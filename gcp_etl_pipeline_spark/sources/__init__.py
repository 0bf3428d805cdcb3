"""Source readers (SURVEY §2.1 S1-S6)."""
