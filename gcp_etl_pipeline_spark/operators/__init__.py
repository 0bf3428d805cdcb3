"""Operator library — the reference's recurring semantics as composable,
Catalyst-friendly DataFrame transforms, plus the large-scale training-data
operators (dedup / similarity / text / multimodal)."""
