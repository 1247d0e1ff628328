"""Layered benchmark of the streamchange_spark engine (see README.md)."""
