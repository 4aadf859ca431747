"""Contracts for the scaling driver (tools/measure_scaling.py): its
curve table must name registered queries and real fixture columns, and
one curve must run end to end; plus the properties of the shared growth
machinery (tools/scaling_common.py) the published SCALING.md curves
depend on."""

from __future__ import annotations

import glob
import os
import sys
import tempfile
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import measure_scaling as MS  # noqa: E402
import scaling_common as SC  # noqa: E402


def test_curve_table_contract(spark, sf_dir):
    """Every curve times a registered query, grows real tables and
    columns, and gives columns of one key domain one shift."""
    import __spark_entry__

    qs = __spark_entry__.queries()
    shared = 0
    for name, curve in MS.CURVES.items():
        assert (curve.query or name) in qs, name
        assert curve.mults and curve.mults == tuple(sorted(curve.mults))
        for table, g in curve.grow.items():
            path = f"{sf_dir}/{table}.parquet"
            assert os.path.exists(path), (name, table)
            cols = set(pq.read_schema(path).names)
            need = g.cols if isinstance(g, MS.Shift) else ("doc_id", "text")
            assert set(need) <= cols, (name, table, need)
        domains: dict[str, set[str]] = {}
        for g in curve.grow.values():
            for c in getattr(g, "cols", ()):
                domains.setdefault(MS.KEY_DOMAIN.get(c, c), set()).add(c)
        if any(len(cs) > 1 for cs in domains.values()):
            shifts = MS.key_shifts(spark, sf_dir, curve)
            for cs in domains.values():
                assert len({shifts[c] for c in cs}) == 1, (name, cs)
            shared += 1
    # j1_star_join_revenue and dq_constraint_audit grow both orderkeys
    assert shared >= 2


def test_run_curve_smoke(spark, sf_dir):
    """One curve at (1, 2) over the test fixtures: both grown tables double, the
    query returns rows, and the staged temp dirs are removed."""
    pattern = os.path.join(
        tempfile.gettempdir(), "scale_j1_star_join_revenue_*"
    )
    before = set(glob.glob(pattern))
    points = list(MS.run_curve(spark, sf_dir, "j1_star_join_revenue", (1, 2)))
    assert [p["mult"] for p in points] == [1, 2]
    for table in ("lineitem", "orders"):
        assert points[1]["rows"][table] == 2 * points[0]["rows"][table] > 0
    assert all(p["result_rows"] > 0 for p in points)
    assert set(glob.glob(pattern)) == before


def test_alphabet_permutations_distinct_and_bijective():
    """rot26 gives 26 distinct transforms; dihedral52 gives 52 — the
    property that lets r9's CDC measurement grow content 50x without
    duplicate copies (rotations alone cap at 26)."""
    rots = {SC.rot26(i) for i in range(26)}
    assert len(rots) == 26
    dih = {SC.dihedral52(i) for i in range(52)}
    assert len(dih) == 52
    assert all(sorted(p) == sorted("abcdefghijklmnopqrstuvwxyz")
               for p in dih), "each permutation must be a bijection"
    assert SC.dihedral52(3) == SC.rot26(3)  # rotations embed in dihedral


def test_grow_shifted_disjoint_on_sparse_ids(spark):
    """The r9 advice item: shifts must be max(key)+1, never count() —
    with SPARSE ids (max >= count), count-shifted copies collide. Pin
    that the default produces fully disjoint id spaces on sparse input."""
    df = spark.createDataFrame(
        [(0, "a"), (7, "b"), (9, "c")], ["doc_id", "text"]
    )
    grown = SC.grow_shifted(df, 3, ["doc_id"])
    rows = grown.count()
    distinct = grown.select("doc_id").distinct().count()
    assert rows == 9 and distinct == 9, "count-based shift would collide"
    assert SC.max_shift(df, "doc_id") == 10


def test_grow_permuted_docs_disjoint_ids_and_content(spark):
    df = spark.createDataFrame(
        [(0, "abc", "en"), (1, "xyz", "en")], ["doc_id", "text", "lang"]
    )
    grown = SC.grow_permuted_docs(df, 3, SC.rot26, keep=("lang",))
    assert grown.columns == ["doc_id", "text", "lang"]
    assert grown.count() == 6
    assert grown.select("doc_id").distinct().count() == 6
    # each copy is under a DIFFERENT permutation -> content grows too
    assert grown.select("text").distinct().count() == 6


def test_staged_tmpdir_and_stage_parquet_roundtrip(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    with SC.staged_tmpdir("sc_smoke_") as tmp:
        SC.stage_parquet(df, f"{tmp}/t.parquet", partitions=2)
        assert spark.read.parquet(f"{tmp}/t.parquet").count() == 10
        kept = tmp
    assert not Path(kept).exists(), "tmpdir must be removed on exit"


def test_steady_times_second_run():
    calls = []
    t = SC.steady(lambda: calls.append(1))
    assert len(calls) == 2 and t >= 0.0
