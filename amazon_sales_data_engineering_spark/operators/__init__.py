"""Reusable distributed operators (the engine's algorithm library)."""

from . import datespine, dedup, delta, sequences, setops, similarity  # noqa: F401
