"""Seeded, self-checking benchmark of the curation job and the dedup store
(see README.md)."""
