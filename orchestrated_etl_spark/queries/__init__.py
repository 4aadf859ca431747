"""Query modules, one per query family. Importing each module registers
its queries/oracles; the registry orders them by REGISTRATION_ORDER.txt,
so import order does not matter."""

from __future__ import annotations

_loaded = False


def load() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    from orchestrated_etl_spark.queries import (  # noqa: F401
        aggregates,
        dedup,
        events,
        graph,
        io,
        multimodal,
        reference,
        relational,
        similarity,
        sql,
        streaming,
        text,
        tpch,
        training,
    )
