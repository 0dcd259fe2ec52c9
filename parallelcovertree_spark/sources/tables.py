"""Loaders for the driver-generated testdata star schema (TESTDATA.md)."""

from __future__ import annotations

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


