"""Property-based cross-checks (hypothesis): Spark operator results must
equal a trivially-correct pure-Python computation on arbitrary small
inputs. Example counts are kept low — every example round-trips through a
Spark job — but the inputs are adversarial in ways the fixture corpus is
not (empty docs, single tokens, all-identical docs, disconnected graphs).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from orchestrated_etl_spark.functions import dedup as D

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# documents: 2-6 docs, each 0-8 tokens drawn from a 5-word vocab (forces
# collisions, empties, and identical docs)
_docs_strategy = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
             min_size=0, max_size=8),
    min_size=2,
    max_size=6,
)


def _py_jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a | b) else 0.0


@settings(**_SETTINGS)
@given(_docs_strategy)
def test_jaccard_pairs_matches_python_sets(spark, docs):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # token-set Jaccard at threshold 0 — every sharing pair must appear
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(
            df, "doc_id", F.array_distinct(F.split("text", " ")), 0.0
        ).collect()
    }
    # NOTE: split(' ') of "" yields [""] — the empty-string token is a
    # real element on both sides (Spark and python must agree).
    sets = {i: set(t.split(" ")) for i, t in rows}
    want = {}
    for i, a in sets.items():
        for j, b in sets.items():
            if i < j and (a & b):
                want[(i, j)] = round(_py_jaccard(a, b), 6)
    assert got == want


@settings(**_SETTINGS)
@given(
    st.integers(min_value=2, max_value=8).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(0, n - 1), st.integers(0, n - 1)
                ).filter(lambda e: e[0] != e[1]),
                min_size=0,
                max_size=10,
            ),
        )
    )
)
def test_connected_components_matches_union_find(spark, graph):
    n, edges = graph
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}
    # canonical = min node id in component
    comp_min: dict[int, int] = {}
    for i, r in want.items():
        comp_min[r] = min(comp_min.get(r, i), i)
    want = {i: comp_min[find(i)] for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    )  # self-loop placeholder when no edges (harmless: min(label)=own)
    got = {
        r["id"]: r["component"]
        for r in D.connected_components(nodes, edf).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(st.sampled_from("abcde"), min_size=1, max_size=30))
def test_shingles_match_python(spark, toks):
    df = spark.createDataFrame([(0, " ".join(toks))], "doc_id long, text string")
    [row] = df.select(D.shingles("text", 3).alias("sh")).collect()
    got = sorted(row["sh"])
    if len(toks) <= 3:
        want = sorted({" ".join(toks[:3])})
    else:
        want = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(st.sampled_from(["foo", "bar", "baz", "qux"]),
                min_size=1, max_size=12))
def test_simhash_matches_python(spark, toks):
    import hashlib

    df = spark.createDataFrame([(0, " ".join(toks))], "doc_id long, text string")
    [row] = D.simhash16(df, "doc_id", "text").collect()

    votes = [0] * 16
    for t in toks:
        nibs = [int(c, 16) for c in hashlib.md5(t.encode()).hexdigest()[:4]]
        for j, nib in enumerate(nibs):
            for b in range(4):
                votes[j * 4 + b] += 1 if (nib >> b) & 1 else -1
    want = sum(1 << i for i in range(16) if votes[i] > 0)
    assert row["simhash"] == want


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=40)
)
def test_minhash_band_collision_iff_band_equal(spark, seeds):
    """Candidate pairs appear iff two docs share at least one full band of
    signature values — checked against a python reimplementation of the
    same universal-hash family."""
    import hashlib

    docs = [(i, " ".join(f"w{s + i * 7 + k}" for k in range(4)))
            for i, s in enumerate(seeds)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(
            D.minhash_signature(
                df, "doc_id", F.array_distinct(F.split("text", " ")), 8
            ),
            bands=4,
            rows_per_band=2,
        ).collect()
    }

    P = D.MINHASH_P
    ab = D.minhash_hash_constants(8)

    def sig(text):
        hs = [
            int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % P
            for w in set(text.split(" "))
        ]
        return [min((a * h + b) % P for h in hs) for a, b in ab]

    sigs = {i: sig(t) for i, t in docs}
    want = set()
    for i in sigs:
        for j in sigs:
            if i < j and any(
                sigs[i][2 * b : 2 * b + 2] == sigs[j][2 * b : 2 * b + 2]
                for b in range(4)
            ):
                want.add((i, j))
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=10,
    )
)
def test_minhash_text_fast_path_matches_array_path(spark, texts):
    """minhash_signature_text (window-lead shingle rows, no arrays) must
    produce the exact signature of minhash_signature over shingles() —
    including docs shorter than n tokens (whole-text shingle) and docs
    with repeated shingles (multiset rows, min unaffected)."""
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    via_array = {
        tuple(r)
        for r in D.minhash_signature(
            df, "doc_id", D.shingles("text", 3), 8
        ).collect()
    }
    via_rows = {
        tuple(r)
        for r in D.minhash_signature_text(df, "doc_id", "text", 3, 8).collect()
    }
    assert via_array == via_rows


# events: (user_id, ts_offset_minutes, is_click) — few users, coarse and
# colliding timestamps (same-minute click+purchase ties), cross-day spans
_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=3000),       # minutes from epoch0
        st.booleans(),                                  # click?
    ),
    min_size=1,
    max_size=25,
)


@settings(**_SETTINGS)
@given(_events_strategy)
def test_asof_join_matches_python_and_salted_matches_plain(spark, events):
    """Both as-of implementations (single-shuffle window and the
    (user, day)-salted two-pass) must equal the obvious pure-Python
    answer: per purchase, max click ts <= purchase ts for that user."""
    import datetime as dt

    from orchestrated_etl_spark.queries.relational import (
        asof_core,
        asof_salted_core,
    )

    base = dt.datetime(2025, 5, 1)  # naive-ntz-ok: feeds timestamp_ntz
    rows = [
        (i, base + dt.timedelta(minutes=m), u,
         "click" if c else "purchase", 0.0)
        for i, (u, m, c) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double",
    )

    def py_asof():
        out = {}
        for eid, ts, u, kind, _ in rows:
            if kind != "purchase":
                continue
            clicks = [t for _, t, uu, k, _ in rows
                      if uu == u and k == "click" and t <= ts]
            out[eid] = max(clicks) if clicks else None
        return out

    want = py_asof()
    got_plain = {r["event_id"]: r["last_click_ts"]
                 for r in asof_core(df).collect()}
    got_salted = {r["event_id"]: r["last_click_ts"]
                  for r in asof_salted_core(df).collect()}
    assert got_plain == want
    assert got_salted == want


@settings(**_SETTINGS)
@given(_docs_strategy)
def test_lsh_always_surfaces_identical_documents(spark, docs):
    """Deterministic LSH guarantee (not a probabilistic recall claim):
    two documents with IDENTICAL text have identical shingle sets, hence
    identical minhash signatures, hence collide in every band — the
    pipeline must always emit that pair, verified at jaccard 1.0. Runs on
    arbitrary corpora including all-identical and near-empty documents."""
    rows = [(i, " ".join(toks) if toks else "xyz") for i, toks in enumerate(docs)]
    dup_id = len(rows)
    rows.append((dup_id, rows[0][1]))  # exact clone of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_dedup(
            df, "doc_id", text_col="text", shingle_n=3, threshold=0.9
        ).collect()
    }
    # the clone pair must be present (ids may arrive in either order)
    hit = pairs.get((0, dup_id), pairs.get((dup_id, 0)))
    assert hit is not None, (rows, pairs)
    assert abs(hit - 1.0) < 1e-9


@settings(**_SETTINGS)
@given(_docs_strategy)
def test_containment_pairs_matches_python_sets(spark, docs):
    """Directed containment |A∩B|/|A| at threshold 0: every element-
    sharing ORDERED pair must appear with the exact python-set ratio
    (both directions independently — the asymmetry is the contract)."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["src_id"], r["dst_id"]): r["containment"]
        for r in D.containment_pairs(
            df, "doc_id", F.array_distinct(F.split("text", " ")), 0.0
        ).collect()
    }
    sets = {i: set(t.split(" ")) for i, t in rows}
    want = {}
    for i, a in sets.items():
        for j, b in sets.items():
            if i != j and (a & b):
                want[(i, j)] = round(len(a & b) / len(a), 6)
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user
            st.integers(min_value=0, max_value=10_800),     # seconds offset
            st.sampled_from(["click", "purchase"]),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_binned_range_join_matches_plain_model(spark, events):
    """The binned range join must return exactly the plain python model
    on adversarial event sets — including gaps of exactly 3600 s (the
    strict-boundary case) and clicks landing at hour-bin edges (the
    probe-bin coverage case)."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (i, u, base + datetime.timedelta(seconds=s), t)
        for i, (u, s, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    binf = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    c = df.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        binf(F.col("ts")).alias("c_bin"),
    )
    p = df.where(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.explode(
            F.array(binf(F.col("ts")) - F.lit(1), binf(F.col("ts")))
        ).alias("probe_bin"),
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("probe_bin") == F.col("c_bin"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    got = {
        r["event_id"]: r["n"]
        for r in joined.groupBy("event_id")
        .agg(F.count(F.col("c_ts")).alias("n"))
        .collect()
    }
    want = {}
    for i, (u, s, t) in enumerate(events):
        if t != "purchase":
            continue
        want[i] = sum(
            1
            for (u2, s2, t2) in events
            if t2 == "click" and u2 == u and s2 <= s and s2 > s - 3600
        )
    assert got == want


# random undirected graphs: 0-12 edges over nodes 0-7 (disconnected
# components, self-free, multi-edge collapsed by the strategy's set)
_edges_strategy = st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).map(
        lambda p: (min(p), max(p))
    ).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=12,
)


@settings(**_SETTINGS)
@given(_edges_strategy)
def test_bfs_matches_python_bfs(spark, edges):
    from collections import deque

    from orchestrated_etl_spark.functions.graph import bfs_distances

    seed, hops = 0, 3
    if not edges:
        edges = {(0, 1)}
    df = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "part_a long, part_b long"
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(df, seed, hops).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, q = {seed: 0}, deque([seed])
    while q:
        n = q.popleft()
        if want[n] >= hops:
            continue
        for m in adj.get(n, ()):  # noqa: B905
            if m not in want:
                want[m] = want[n] + 1
                q.append(m)
    assert got == want


# random interval starts (minutes) for 1-2 users
_starts_strategy = st.lists(
    st.tuples(st.integers(1, 2), st.integers(0, 120)),
    min_size=1,
    max_size=10,
)


@settings(**_SETTINGS)
@given(_starts_strategy)
def test_interval_coverage_matches_python_union(spark, tmp_path_factory, starts):
    import datetime

    from orchestrated_etl_spark.queries.events import _interval_coverage

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (i, t0 + datetime.timedelta(minutes=m), uid, "view", 1.0, "{}")
        for i, (uid, m) in enumerate(starts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path_factory.mktemp("iv"))
    df.write.parquet(f"{sf_dir}/events.parquet")
    got = {
        r["user_id"]: (r["n_spans"], r["covered_seconds"])
        for r in _interval_coverage(spark, sf_dir).collect()
    }
    want = {}
    for uid in {u for u, _ in starts}:
        ivs = sorted(
            (m * 60, m * 60 + 600) for u, m in starts if u == uid
        )
        spans = []
        for s, e in ivs:
            if spans and s <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((s, e))
        want[uid] = (len(spans), sum(e - s for s, e in spans))
    assert got == want


# ---------------------------------------------------------------------------
# content-defined chunking vs pure-Python replica (wave 15)
# ---------------------------------------------------------------------------

# adversarial doc set: empty strings, sub-gram-length docs, repeated
# characters (boundary storms), and shared suffixes across docs
_cdc_docs_strategy = st.lists(
    st.one_of(
        st.just(""),
        st.text(alphabet="ab .", min_size=0, max_size=7),
        st.text(alphabet="abcdef .", min_size=8, max_size=120),
        st.builds(lambda s: s + "the shared tail fragment of text",
                  st.text(alphabet="xyz ", min_size=0, max_size=40)),
    ),
    min_size=1,
    max_size=5,
)


@settings(**_SETTINGS)
@given(_cdc_docs_strategy)
def test_cdc_chunks_matches_python_replica_property(spark, docs):
    from orchestrated_etl_spark.queries.dedup import _cdc_chunks
    from tests.test_wave15_ops import _py_chunks

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{tmp}/documents.parquet")

        owner: dict[str, set] = {}
        chunks_by_doc = {}
        for i, t in enumerate(docs):
            cs = _py_chunks(t)
            chunks_by_doc[i] = cs
            for c in set(cs):
                owner.setdefault(c, set()).add(i)
        shared = {c for c, o in owner.items() if len(o) >= 2}

        got = {
            r["doc_id"]: (
                r["n_chunks"], r["n_shared_chunks"],
                r["shared_chars"], r["total_chars"],
            )
            for r in _cdc_chunks(spark, tmp).collect()
        }
        for i, t in enumerate(docs):
            cs = chunks_by_doc[i]
            expect = (
                len(cs),
                sum(1 for c in cs if c in shared),
                sum(len(c) for c in cs if c in shared),
                len(t),
            )
            assert got[i] == expect, (i, t, cs)


# weighted values with duplicates and negatives; ids are the tie-breaker
_rank_rows = st.lists(
    st.integers(min_value=-5, max_value=5),
    min_size=1,
    max_size=24,
)


@settings(**_SETTINGS)
@given(_rank_rows, st.integers(min_value=1, max_value=6))
def test_global_rank_two_phase_matches_python_sort(spark, vals, nparts):
    """global_rank_two_phase == enumerate(sorted(...)) + running sum, for
    any partition count — including nparts > nrows (empty partitions)
    and heavy ties (values drawn from an 11-wide domain)."""
    from orchestrated_etl_spark.operators.relational import (
        global_rank_two_phase,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: (r["rnk"], r["cum"])
        for r in global_rank_two_phase(
            df,
            [F.desc("v"), F.asc("id")],
            num_range_partitions=nparts,
            running_sum_expr=F.col("v"),
        ).collect()
    }
    want = {}
    cum = 0
    for rnk, (i, v) in enumerate(
        sorted(rows, key=lambda r: (-r[1], r[0])), start=1
    ):
        cum += v
        want[i] = (rnk, cum)
    assert got == want


@settings(**_SETTINGS)
@given(
    st.integers(min_value=1, max_value=37),
    st.integers(min_value=1, max_value=8),
)
def test_exact_ntile_expr_matches_window_ntile(spark, n, k):
    """exact_ntile_expr(rank, n, k) == ntile(k) OVER (ORDER BY ...) for
    every (n, k) — including n < k, n % k != 0, and k = 1."""
    from pyspark.sql import Window

    from orchestrated_etl_spark.operators.relational import exact_ntile_expr

    df = spark.range(n).select(F.col("id"))
    w = Window.orderBy("id")
    both = df.select(
        "id",
        F.ntile(k).over(w).alias("want"),
        exact_ntile_expr(
            F.row_number().over(w).cast("long"), F.lit(n).cast("long"), k
        ).alias("got"),
    )
    bad = both.where(F.col("want") != F.col("got")).count()
    assert bad == 0


def test_exact_ntile_expr_exact_past_2_53(spark):
    """Bucket boundaries stay exact at 2**60-scale n, where floor over
    DOUBLE division (the pre-round-7 formula) rounds the quotient and
    can cross an integer boundary. Oracle is Python big-int arithmetic
    (standard ntile: first n%k buckets hold n//k+1 rows, rest n//k)."""
    from orchestrated_etl_spark.operators.relational import exact_ntile_expr

    n = 2**60 + 7
    k = 7
    m, r = divmod(n, k)
    head = r * (m + 1)

    def py_ntile(rank: int) -> int:
        if rank <= head:
            return (rank - 1) // (m + 1) + 1
        return r + (rank - head - 1) // m + 1

    # ranks straddling every bucket boundary, plus the extremes
    ranks = {1, n, head, head + 1}
    for b in range(1, k):
        edge = b * (m + 1) if b <= r else head + (b - r) * m
        ranks.update({edge, edge + 1})
    rows = [(rank, py_ntile(rank)) for rank in sorted(ranks) if 1 <= rank <= n]
    df = spark.createDataFrame(rows, "rank long, want int")
    bad = df.where(
        exact_ntile_expr(F.col("rank"), F.lit(n).cast("long"), k)
        != F.col("want")
    ).count()
    assert bad == 0


# rows: (group, order-value, non-negative term) — adversarial in the ways
# the fixture is not: single-row groups, all-tied order values, zero
# terms, one group holding everything, NULL group keys (round-16 advice:
# the re-base join silently dropped null-keyed rows; Window.partitionBy
# gives nulls their own partition and the operator must too).
_grouped_rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", None]),
        st.integers(min_value=-5, max_value=5),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=20,
)


@settings(**_SETTINGS)
@given(_grouped_rows_strategy)
def test_grouped_rank_two_phase_matches_python_model(spark, rows):
    """The round-16 bounded-domain-window replacement must equal the
    trivially-correct Python computation — per-group 1-based rank under
    (v DESC, id ASC), group size, and inclusive running sum of the
    non-negative term — on arbitrary small inputs (ties, zero terms,
    singleton groups). Four range partitions force real re-basing
    across partition boundaries even on tiny data."""
    from orchestrated_etl_spark.operators.relational import (
        grouped_rank_two_phase,
    )

    data = [(i, g, v, t) for i, (g, v, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, g string, v long, t long")
    got = {
        (r.id, r.rnk, r.n, r.cum)
        for r in grouped_rank_two_phase(
            df,
            ["g"],
            [F.desc("v"), F.asc("id")],
            rank_col="rnk",
            n_col="n",
            running_sum_expr=F.col("t"),
            running_sum_col="cum",
            num_range_partitions=4,
        ).collect()
    }
    want = set()
    by_group: dict[str, list] = {}
    for i, g, v, t in data:
        by_group.setdefault(g, []).append((i, v, t))
    for g, members in by_group.items():
        members.sort(key=lambda m: (-m[1], m[0]))
        cum = 0
        for rank, (i, v, t) in enumerate(members, start=1):
            cum += t
            want.add((i, rank, len(members), cum))
    assert got == want
