"""Workload definitions: what each workload runs and at what input size."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "docs": SQL text through process_query; "registry": fn(spark, sf) + noop
    rows: tuple[str, ...] = ()  # registry row ids (name prefix before the first "_")
    sizes: tuple[tuple[str, int], ...] = ()  # generator sizes


# fixture tables the registry rows read (each row loads them itself)
REGISTRY_TABLES = ("region", "nation", "customer")

WORKLOADS = {
    w.name: w
    for w in (
        Workload("kinerja_docs", "docs", sizes=(("points", 1200), ("districts", 16))),
        Workload(
            "spatial_kernels",
            "registry",
            rows=("q44", "q45", "q47"),
            sizes=(("customers", 3000),),
        ),
        Workload(
            "iterative_driver",
            "registry",
            rows=("q160", "q176"),
            sizes=(("customers", 500),),
        ),
    )
}

# Each kinerja fixture is registered once per document format.
DOC_FORMATS = ("geojson", "gml")
