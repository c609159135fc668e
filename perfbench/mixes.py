"""The fixed query mixes of the catalog workloads.

A run measures whole passes over its mix, so the mix must not depend on
the seed: the seed only shuffles the order. A query's family is the
catalog module that registers it (the grouping of ``QUERIES.md``). The
``roundN_*`` modules are registration batches, not families: each mixes
queries of several families, and every one of those families has a
module of its own. ``catalog_small`` takes the median-named query of
each family, so every family, streaming, ANN and graph included, runs;
``tpch_10x`` takes the 22 TPC-H queries.
"""

from __future__ import annotations

import re

TPCH = re.compile(r"^q\d+_")
BATCH_MODULE = re.compile(r"^round\d+_")


def family(queries: dict, name: str) -> str:
    """The catalog module that registers ``name``, without its package."""
    return queries[name].__module__.rsplit(".", 1)[-1]


def catalog_small(queries: dict) -> list[str]:
    by_family: dict[str, list[str]] = {}
    for n in sorted(queries):
        f = family(queries, n)
        if not BATCH_MODULE.match(f):
            by_family.setdefault(f, []).append(n)
    return [members[len(members) // 2] for _, members in sorted(by_family.items())]


def tpch(names) -> list[str]:
    return sorted((n for n in names if TPCH.match(n)), key=lambda n: int(n[1:].split("_")[0]))
