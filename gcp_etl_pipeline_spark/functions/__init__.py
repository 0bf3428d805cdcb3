"""Scalar/aggregate function helpers shared by engine operators."""
