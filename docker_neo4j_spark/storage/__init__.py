"""Storage layer: mutable graph store, dump/load snapshots, CSV import."""

from .store import GraphStore, load_csv

__all__ = ["GraphStore", "load_csv"]
