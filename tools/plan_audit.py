"""Physical-plan audit over every registered query.

Flags the plan shapes that break at 100 TB:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic joins
  (allowed only where the operator is *defined* pairwise and blocked,
  e.g. brute-force similarity — those are allowlisted explicitly).
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (the Arrow
  variants show up as ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
  and are fine).
- ``Window`` nodes with an EMPTY partition spec — WindowExec moves the
  whole input to ONE partition, so an unpartitioned window over a
  data-sized relation is a single-executor sort at scale. Allowed only
  where the window's input domain is provably bounded (histogram bins,
  top-k post-limit survivors, date spine, per-partition offset rows,
  <=K-row relations) — each allowlisted with the bound and a reason,
  and with the EXACT expected count so an extra global window sneaking
  into an allowlisted query still flags.
- ``Window`` nodes whose partition spec is made ONLY of bounded-domain
  columns (3 order statuses, 25 nations, ~20 sources, …) — parallelism
  is pinned at the domain size forever, so each task sorts O(fact /
  domain) rows at 100 TB (round-15 verdict's "weak" class). Allowed
  only where the window's INPUT is itself bounded (a daily spine, a
  histogram, a top-K survivor set) — each allowlisted with the bound
  and the EXACT expected count.
  FORMER BLIND SPOT, CLOSED round 17: a Window (or any plan) evaluated
  INSIDE an eager ``localCheckpoint`` or a batch STAGING WRITE executes
  at query-BUILD time, so the returned frame's plan shows only a
  checkpoint scan / file scan. The audit now captures those hidden
  plans (``capture_eager_plans`` monkeypatches localCheckpoint and the
  DataFrameWriter save methods around each query build) and runs the
  structural rules over them — the round-16 MANUAL sweep of all 55
  checkpoint sites ("every pre-checkpoint window is high-card-keyed or
  bounded") is now machine-confirmed every run. Introduction triage
  over all 295 queries found exactly FOUR hidden occurrences, every
  one a known-bounded shape, each allowlisted with its reason: the
  z-order staging write's 1-row stats broadcast, the lineage staging
  repartition (source-allowlisted already), skyline's ~#bands-row
  prefix-min (the r16 hand-verified case), and kmeans-refine's 3
  per-iteration corpus x broadcast-8 assignment passes.
- Fixture-table parquet scans with no pushed filter AND no column
  pruning (ReadSchema covers every table column while PushedFilters is
  empty): at 100 TB an accidental select-* pipeline reads the whole
  table off disk for a narrow answer. Allowed only where the operator
  semantically consumes the full relation (allowlisted with reasons).
- Exchange count per query (printed, not flagged — context decides).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Exit code 1 if any un-allowlisted smell is found.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))

# Queries whose semantics are pairwise-within-block by definition: the
# nested-loop/cartesian inside a block or against a broadcast query set is
# the algorithm, not an accident.
PAIRWISE_OK = {
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "sim_ivf_topk_nprobe2",  # same posting-list scoring join as sim_ivf_topk
    "dedup_embedding_cosine",
    "mm_fake_embed_topk",  # brute-force query-set x corpus scoring is the baseline path
    "sim_mrl_prefix_topk",  # stage-1 prefix scan is the brute-force baseline at 1/4 width
    "search_hybrid_rrf",  # semantic leg is the brute-force query-set x corpus scan
    # corpus x broadcast-centroid scoring (2 pivots / K fine centroids):
    # bounded fan-out by construction — the assignment algorithm itself
    "sim_tree_assign_agreement",
    "dedup_semantic_clusters",  # same corpus x broadcast-K assignment pass
    "sim_kmeans_step_exact",  # same corpus x broadcast-K assignment pass
    # HIDDEN plans (round-17 capture layer): the 3 Lloyd iterations each
    # run the same corpus x broadcast-K(=8) assignment pass inside an
    # eager checkpoint — bounded fan-out per iteration, iteration count
    # fixed; the batch twin sim_kmeans_step_exact is allowlisted above
    # for the identical (visible) shape.
    "sim_kmeans_refine",
    # next-non-empty-bucket mapping: broadcast nested-loop over the YEAR
    # bucket spine with itself — O(#years^2) pairs (dozens), fact-free.
    "window_rolling_median",
}

# Queries whose POINT is per-row Python: the UDTF demo exists to cover the
# genuinely-Python row→rows API (its docstring routes hot paths to the JVM
# explode/sequence twin train_chunk_documents).
PYTHON_OK = {
    "udtf_chunk_expand",
}

# Queries that combine a ONE-ROW aggregate (a scalar: corpus total, edge
# count) with another relation. Spark plans the scalar side as a broadcast
# nested-loop join because there is no equi-key, but the build side is a
# single row by construction — constant memory and work at any scale, not
# a data×data cartesian.
SCALAR_BROADCAST_OK = {
    "train_dedup_lines_global",  # broadcast 1-row corpus total onto line freqs
    "graph_triangle_count",  # 1-row edge/node/triangle counts combined
    "sim_sq8_topk",  # broadcast 1-row quantization scale (max-abs) onto the scan
    "train_temperature_mixture",  # broadcast 1-row min-count onto per-lang rates
    "dq_drift_psi",  # broadcast 1-row batch totals onto the 10-bin cells
    "events_rfm_segmentation",  # broadcast 1-row corpus max-ts (recency anchor)
    # broadcast 1-row relations only: corpus max-ts anchor, user count n,
    # and three 4-scalar cutoff rows — scoring is map-side against 12
    # broadcast scalars; no data x data cartesian exists in the plan.
    "events_rfm_quantile_cutoffs",
    # broadcast ONE-row Bloom bit-set (<=64-entry map built by the dim-key
    # aggregate) onto the fact scan — the runtime-filter pattern itself;
    # the exact join downstream is an equi-join.
    "join_bloom_prefilter",
    # broadcast 1-row (n_days, total) and 1-row max|cusum| onto the
    # O(date-domain) daily series — constant build side at any scale.
    "events_cusum_changepoint",
    # broadcast the 7-row literal lag relation onto the O(date-domain)
    # daily spine — constant build side; the pair join itself is an
    # equi-join on (day + lag).
    "events_acf_lags",
    # the contingency cross is category-sized (5 priorities x 3
    # statuses x a 1-row total) — three broadcast relations of
    # constant cardinality, never data x data.
    "stats_chi2_cells",
    "stats_chi2_total",
    # broadcast 1-row censoring-horizon (corpus max date) onto the
    # user cohort — constant build side at any scale.
    "events_km_survival",
    # broadcast 1-row worst-drawdown scalar onto the O(date-domain)
    # daily series — constant build side at any scale.
    "events_max_drawdown",
    # broadcast the 1-row argmax merge pair onto the word-frequency
    # relation — constant build side at any scale.
    "train_bpe_merge_step",
    # broadcast 1-row order-count scalar onto the edge-sized pair
    # relation — constant build side at any scale.
    "orders_basket_lift",
    # broadcast 1-row doc-count scalar onto the vocabulary-sized
    # co-occurrence relation — constant build side at any scale.
    "text_pmi_collocations",
    # broadcast 1-row (n_users, total-revenue) scalars onto the
    # user-domain ranked relation — constant build side at any scale.
    "events_pareto_8020",
    # broadcast 1-row (min, max, n) bounds onto the scan, and 1-row
    # exact-median onto the 1-row selected bin — constant build sides.
    "agg_histogram_quantile_merge",
    # three 1-row aggregates (edge count, intra-edge count, degree
    # moments) combined into the single modularity row.
    "graph_modularity",
    # HIDDEN plan (round-17 capture layer): the z-order STAGING write
    # crossJoins the 1-row (min/max custkey, min/max date) bounds
    # aggregate into the scan projection — constant build side at any
    # scale ("one scalar aggregate, broadcast into the scan projection;
    # no collect" per its docstring); invisible to the main plan, which
    # only scans the written files.
    "sink_zorder_write",
}

# Queries allowed to carry unpartitioned Window nodes, mapped to the
# EXACT number expected and the bound that makes each one safe. Any
# count above the entry (or any global window in an unlisted query)
# flags — so a regression that reintroduces a data-sized global window
# into an allowlisted query is still caught.
GLOBAL_WINDOW_OK: dict[str, tuple[int, str]] = {
    # date-spine series: the window input is the day-grouped relation,
    # O(calendar range) rows (years x 365), never O(fact).
    "events_cusum_changepoint": (2, "running mean + cusum over the daily spine"),
    "events_max_drawdown": (2, "running peak + drawdown over the daily spine"),
    # window_rolling_median left this list in round 13: bounded-overlap
    # year-bucket rewrite — the 7-day frame now runs partitionBy(year)
    # with a 6-row pad from the previous non-empty bucket.
    # duration-domain: risk-set cumulation over O(distinct lifetimes)
    # rows, bounded by the fixture date range.
    "events_km_survival": (1, "risk-set window over the duration domain"),
    # histogram bins: fixed _HQ_BINS=32-bucket relation.
    "agg_histogram_quantile_merge": (1, "cumulative counts over 32 bins"),
    # top-k post-limit survivors: the window input is already reduced
    # by TakeOrderedAndProject to K rows.
    "sample_weighted_deterministic": (1, "rank over the K=50 heap survivors"),
    "train_build_vocab": (1, "rank over the V vocab-cap survivors"),
    "search_hybrid_rrf": (1, "rank over the 20-row BM25 leg"),
    # two-phase global rank (operators/relational.global_rank_two_phase):
    # the only global window is the exclusive-preceding offset scan over
    # <=num_range_partitions per-partition aggregate rows.
    "events_pareto_8020": (1, "offset window over <=32 _pid rows"),
    "text_zipf_slope": (1, "offset window over <=32 _pid rows"),
    # round-15: gini moved from a nation-partitioned window (parallelism
    # pinned at 25 nations forever) to the two-phase rank on
    # (nation, x, custkey); the offsets window prints TWICE because the
    # lazy localCheckpoint subtree appears under both of its consumers
    # (the rank join and the per-nation min-rank aggregate).
    "agg_gini_revenue": (2, "2x printed offset window over <=32 _pid rows"),
    # two-phase global rank x3 (r/f/m dimensions, see rfm_ntile_core):
    # three offset scans over <=32 _pid rows each — the ntile buckets
    # themselves are computed map-side from the ranks.
    "events_rfm_segmentation": (3, "3x offset windows over <=32 _pid rows"),
    # round-16: the five bounded-domain-window reworks (grouped_rank_
    # two_phase — the gini recipe generalised). Same 2x print as
    # agg_gini_revenue: the lazy localCheckpoint subtree appears under
    # BOTH consumers (the re-base offsets aggregate and the rank join).
    "window_ntile_deciles": (2, "2x printed offset window over <=32 _pid rows"),
    "window_distribution_ranks": (2, "2x printed offset window over <=32 _pid rows"),
    "train_token_packing": (2, "2x printed offset window over <=32 _pid rows"),
    "train_e2e_pipeline": (2, "2x printed offset window over <=32 _pid rows"),
    "train_epoch_shuffle": (2, "2x printed offset window over <=32 _pid rows"),
}


def _window_bracket_groups(line: str) -> list[str]:
    """Top-level [...] groups on a Window plan line. The node prints
    ``Window [funcs], [partSpec], [orderSpec]`` when fully specified;
    either spec is OMITTED (not printed empty) when absent, so a
    2-group line is EITHER partition-only or order-only."""
    groups = []
    depth = 0
    start = None
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(line[start : i + 1])
                start = None
    return groups


def count_global_windows(plan: str) -> int:
    """Unpartitioned Window/WindowInPandas nodes in a physical plan.
    A 2-group node is global only when its second group is an ORDER
    spec (sort directions present) — a partition-only window (e.g.
    ``count(*) over (partition by k)``) also prints 2 groups."""
    n = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow(InPandas)? \[", line)
        if not m:
            continue
        groups = _window_bracket_groups(line[m.start() :])
        if len(groups) >= 3:
            continue  # funcs + partition + order
        if len(groups) == 2 and not re.search(r" (ASC|DESC) ", groups[1]):
            continue  # funcs + partition-only
        n += 1
    return n


# Columns whose value DOMAIN is bounded (fixture categoricals and
# construction-fixed derived keys). A Window partitioned ONLY by these
# caps WindowExec parallelism at the domain size forever — correct and
# fast at sf0.1, a 3-to-25-task ceiling over a data-sized input at
# 100 TB (the round-15 verdict's "weak" class: window_ntile_deciles,
# train_cap_per_source, train_token_packing, train_e2e_pipeline). A
# salt / _pid / high-card co-key in the partition spec lifts the cap,
# so mixed specs never flag.
LOW_CARD_COLS = {
    # TPC-H categoricals (domain size in parens)
    "o_orderstatus",      # 3
    "o_orderpriority",    # 5
    "l_returnflag",       # 3
    "l_linestatus",       # 2
    "l_shipmode",         # 7
    "l_shipinstruct",     # 4
    "c_mktsegment",       # 5
    "n_nationkey", "c_nationkey", "s_nationkey", "n_name",  # 25
    "n_regionkey", "r_regionkey", "r_name",                 # 5
    "p_mfgr",             # 5
    "p_brand",            # 25
    "p_container",        # 40
    # fixture categoricals beyond TPC-H
    "event_type",         # ~6
    "source",             # ~20 crawl dumps
    "lang",               # ~10
    # construction-fixed derived keys used by registered queries
    "dim",                # 3 RFM dimensions
    "prev_type",          # event-type domain
    "epoch",              # 2 (train_epoch_shuffle)
    "shard",              # 8 (train_epoch_shuffle)
    "order_year",         # ~7 (year(o_orderdate) — src_file_lineage)
    "lineage_shard",      # 8 (o_orderkey % _LINEAGE_SHARDS — src_file_lineage)
}

# Queries allowed to carry bounded-domain-partitioned Window nodes,
# mapped to the EXACT expected count and the reason the window is safe:
# in every entry the window's INPUT relation is itself bounded (a
# date-domain daily rollup, a value-domain histogram, a top-K survivor
# set), so the per-partition sort is O(bounded), not O(fact). Any count
# above the entry — or any such window in an unlisted query — flags.
LOW_CARD_WINDOW_OK: dict[str, tuple[int, str]] = {
    # ≤ K·#salts survivors from the salted phase-1 window (phase 1
    # itself partitions by (status, _salt) and never flags).
    "sample_stratified_fixed": (1, "final top-K over ≤6400 salted survivors"),
    "train_cap_per_source": (1, "final top-15 over ≤480 salted survivors/source"),
    # Catalyst rewrites the correlated LATERAL LIMIT into a nation-
    # partitioned window — its input is the salted phase-1 survivor
    # set, ≤ 2·32 rows per nation by construction.
    "sql_lateral_correlated_topk": (1, "LATERAL rewrite over ≤64 survivors/nation"),
    # dimension-bounded window input: the lead() edge list runs over
    # the 25-row nation table itself.
    "sql_recursive_region_walk": (1, "lead edge-list over the 25-row nation dim"),
    # daily per-type rollups: O(date-domain × #types) rows, never O(fact).
    "events_anomaly_zscore": (1, "7-day stats over the daily spine"),
    "events_seasonal_decompose": (2, "trend + seasonal over the daily spine"),
    # transition-matrix share: input is the (prev_type, next_type)
    # count relation — type-domain², dozens of rows.
    "events_markov_transitions": (1, "share over the type×type count grid"),
    # cumulative histogram per RFM dim: input is the (dim, value)
    # histogram — O(distinct integer values), sub-linear in the corpus.
    # r18: a second (unordered) window over the SAME histogram derives
    # n = total mass per dim, replacing the separate count(per_user)
    # pass + broadcast crossJoin — same partitioning, no new exchange.
    "events_rfm_quantile_cutoffs": (2, "cumulation + total over the value histogram"),
}


# Queries allowed to carry REPARTITION-origin exchanges keyed ONLY by
# bounded-domain columns, mapped to the EXACT expected count and the
# reason. The Exchange-side sibling of the bounded-domain-window class
# (round-16 verdict): `df.repartition(<bounded key>)` hash-clusters the
# FULL relation into at most |domain| non-empty partitions — ~7 write
# tasks for a fact table — no matter how many partitions were requested.
LOW_CARD_EXCHANGE_OK: dict[str, tuple[int, str]] = {}


def count_low_card_repartition_exchanges(plan: str) -> int:
    """REPARTITION-origin Exchange nodes (user-requested
    ``df.repartition(...)`` / ``repartitionByRange(...)`` — shuffle
    origin ``REPARTITION_BY_COL`` / ``REPARTITION_BY_NUM``) whose key
    set is non-empty and made ONLY of LOW_CARD_COLS columns. Hash (or
    range) clustering on a bounded domain leaves at most |domain|
    non-empty partitions regardless of the requested partition count —
    the Exchange-side sibling of count_low_card_windows.

    ENSURE_REQUIREMENTS exchanges are deliberately NOT counted: an
    aggregation/join exchange on a bounded key moves per-task PARTIAL
    rows (bounded by #tasks x domain), not the full relation — only a
    user-forced repartition reclusters all data onto the bounded key."""
    n = 0
    for line in plan.splitlines():
        if "REPARTITION_BY_COL" not in line and "REPARTITION_BY_NUM" not in line:
            continue
        m = re.search(r"Exchange (?:hash|range)partitioning\((.*)\)", line)
        if not m:
            continue
        cols = set(re.findall(r"([A-Za-z_]\w*)#\d+", m.group(1)))
        if cols and cols <= LOW_CARD_COLS:
            n += 1
    return n


def count_low_card_windows(plan: str) -> int:
    """Window nodes whose partition spec is non-empty and made ONLY of
    LOW_CARD_COLS columns (by base name, `col#id` refs). Any
    unrecognised column in the spec (salt, _pid, user_id, …) makes the
    partitioning data-scaled and the node clean. KNOWN LIMIT (pinned in
    tests): an EXPRESSION partition key is projected into a generated
    ``_w0#N`` column before the Window node, erasing the base name —
    only direct column references are detectable."""
    n = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow(InPandas)? \[", line)
        if not m:
            continue
        groups = _window_bracket_groups(line[m.start() :])
        if len(groups) >= 3:
            part = groups[1]
        elif len(groups) == 2 and not re.search(r" (ASC|DESC) ", groups[1]):
            part = groups[1]  # partition-only window
        else:
            continue  # unpartitioned — count_global_windows' job
        cols = set(re.findall(r"([A-Za-z_]\w*)#\d+", part))
        if cols and cols <= LOW_CARD_COLS:
            n += 1
    return n


# ---------------------------------------------------------------------------
# SOURCE-level rules (round 17). Two classes the PLAN audit structurally
# cannot see:
#
# 1. Bounded-key repartition inside an EAGER staging step: queries that
#    write a fixture derivative at build time (src_file_lineage's
#    partitioned write) execute the repartition before the audited
#    DataFrame exists — the returned plan shows only the read-back scan
#    (same blind spot as eager localCheckpoint). Caught here by scanning
#    the SOURCE for `.repartition(...)`/`.repartitionByRange(...)` whose
#    resolvable key names are non-empty and all in LOW_CARD_COLS. A
#    numPartitions argument does NOT lift the flag: hash-clustering on a
#    ~7-value key leaves ≤7 non-empty partitions whatever N is.
#
# 2. EXPRESSION window partition keys: Catalyst projects an expression
#    key into a generated `_w0#N` column before the Window node, erasing
#    the base name from the plan (the count_low_card_windows documented
#    blind spot, round-16 verdict). Caught here by flagging
#    `Window.partitionBy(...)` arguments that are NOT plain references
#    (string literal / F.col("x") / bare name / *splat) but mention a
#    LOW_CARD_COLS name.
#
# DOCUMENTED LIMITS: star-args (`*cols`) and bare-variable keys are
# statically unresolvable and pass — the plan-level rules remain the
# backstop for every LAZY plan; this scan exists for eager staging code
# and expression keys, where the plan rules are blind. A repartition key
# whose boundedness comes from a FUNCTION over an unbounded column
# (`repartition(F.year("o_orderdate"))` — ~7 values) escapes both
# layers (pinned in tests): static boundedness of arbitrary expressions
# is undecidable — the repo convention is to materialize derived keys
# as NAMED columns first (order_year), which keeps them in
# LOW_CARD_COLS reach.

# (relpath, key names tuple) -> (exact expected count, reason). The
# same exact-count machinery as the window allowlists: an EXTRA
# bounded-key repartition in an allowlisted file still flags.
SOURCE_REPARTITION_OK: dict[tuple[str, tuple[str, ...]], tuple[int, str]] = {
    # src_file_lineage staging write (round-17 rework of the r16
    # verdict's red-baseline finding, which was repartition("order_year")
    # alone — ~7 write tasks): clustering on (order_year, lineage_shard)
    # pins one file per leaf directory (the oracle-expressible
    # determinism the query's answer needs) while write parallelism is
    # years × _LINEAGE_SHARDS — S is the documented fan-out knob,
    # fixture-pinned at 8 only because the DuckDB oracle must name the
    # same constant.
    (
        "orchestrated_etl_spark/queries/io.py",
        ("lineage_shard", "order_year"),
    ): (1, "partitioned-write staging; fan-out knob _LINEAGE_SHARDS"),
}

SOURCE_SCAN_DIRS = ("orchestrated_etl_spark",)

_STR_LIT_ARG = re.compile(r'^["\']([A-Za-z_]\w*)["\']$')
_COL_REF_ARG = re.compile(r'^(?:F\.)?col\(\s*["\']([A-Za-z_]\w*)["\']\s*\)$')
_INT_ARG = re.compile(r"^\d+$")


def _strip_docstrings_and_comments(text: str) -> str:
    """Blank out triple-quoted strings and # comments, preserving line
    numbers, so prose mentioning repartition(...) can't flag.

    The comment pass is QUOTE-AWARE (round-18 advice): a '#' inside a
    single-line string literal — a regex, SQL text, a URL fragment —
    must not truncate the rest of that line before the repartition/
    coalesce/window scans run (the old ``re.sub(r"#[^\\n]*")`` did, so
    a call AFTER such a literal on the same line was invisible).
    Quote state resets at each newline: Python single-quoted literals
    cannot span lines, so a stray unterminated quote degrades to the
    old behavior on that one line instead of eating the file."""
    def _keep_newlines(m: re.Match) -> str:
        return "\n" * m.group(0).count("\n")

    text = re.sub(r'"""(?:[^"\\]|\\.|"(?!""))*"""', _keep_newlines, text)
    text = re.sub(r"'''(?:[^'\\]|\\.|'(?!''))*'''", _keep_newlines, text)
    out: list[str] = []
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            out.append(ch)
            if ch == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if ch == quote or ch == "\n":
                quote = None
        elif ch in "\"'":
            quote = ch
            out.append(ch)
        elif ch == "#":
            j = text.find("\n", i)
            i = n if j == -1 else j
            continue
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _balanced_paren_args(text: str, open_idx: int) -> str:
    """Text between the paren at open_idx and its match (quote-aware)."""
    depth, quote = 0, None
    for i in range(open_idx, len(text)):
        ch = text[i]
        if quote:
            if ch == quote and text[i - 1] != "\\":
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : i]
    return text[open_idx + 1 :]


def _split_top_level_args(argtext: str) -> list[str]:
    parts: list[str] = []
    depth, quote, cur = 0, None, []
    for i, ch in enumerate(argtext):
        if quote:
            cur.append(ch)
            if ch == quote and argtext[i - 1] != "\\":
                quote = None
        elif ch in "\"'":
            quote = ch
            cur.append(ch)
        elif ch in "([{":
            depth += 1
            cur.append(ch)
        elif ch in ")]}":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _plain_col_name(arg: str) -> str | None:
    arg = " ".join(arg.split())
    m = _STR_LIT_ARG.match(arg) or _COL_REF_ARG.match(arg)
    return m.group(1) if m else None


def source_repartition_findings(text: str, relpath: str) -> list[tuple]:
    """(relpath, lineno, key-names) for every bounded-key repartition."""
    out = []
    clean = _strip_docstrings_and_comments(text)
    for m in re.finditer(r"\.repartition(?:ByRange)?\s*\(", clean):
        open_idx = clean.index("(", m.end() - 1)
        args = _split_top_level_args(_balanced_paren_args(clean, open_idx))
        names: list[str] = []
        unresolvable_key = False
        for pos, a in enumerate(args):
            if _INT_ARG.match(a):
                continue  # numPartitions literal
            name = _plain_col_name(a)
            if name is not None:
                names.append(name)
            elif pos == 0:
                continue  # leading non-column expression = numPartitions
            else:
                unresolvable_key = True  # variable/expression key: unknown
        if names and not unresolvable_key and set(names) <= LOW_CARD_COLS:
            lineno = clean[: m.start()].count("\n") + 1
            out.append((relpath, lineno, tuple(sorted(set(names)))))
    return out


# SQL-text broadcast hints (/*+ BROADCAST(x) */, BROADCASTJOIN,
# MAPJOIN): the forced-broadcast rule's blind spot for two rounds — the
# r15/r16 sweeps grepped F.broadcast() call sites, and the round-17
# review found the unigram-LM raw-vocabulary hint had survived in SQL
# text (fixed; the Heaps'-law class). A hint is honored
# unconditionally, so every SQL hint needs the same provable bound an
# F.broadcast call does. Allowlist: (relpath, hinted alias) -> (exact
# count, reason) — only for relations bounded by CONSTRUCTION (a
# query-term-filtered df relation, a fixed dim), never "small today".
SOURCE_SQL_HINT_OK: dict[tuple[str, str], tuple[int, str]] = {
    # BM25 serving: `d` is the df relation equi-joined on term with the
    # 3-literal `term IN (...)` filter pushed through the join — the
    # broadcast side is |query terms| rows by construction.
    ("orchestrated_etl_spark/queries/text.py", "d"): (
        2,
        "query-term-filtered df relation, |terms| rows by construction",
    ),
}

# The alias group accepts a COMMA-SEPARATED list (round-18 advice):
# `/*+ BROADCAST(a, b) */` is valid Spark hint syntax forcing TWO
# broadcasts, and the single-alias regex silently passed it; each alias
# is emitted as its own finding so each needs its own allowlist bound.
_SQL_HINT = re.compile(
    r"/\*\+\s*(?:BROADCAST|BROADCASTJOIN|MAPJOIN)\s*"
    r"\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*\*/"
)
# third hint spelling: df.hint("broadcast"). merge / shuffle_hash /
# shuffle_replicate_nl hints force broadcast OFF — the scale-safe
# direction — and never flag.
_DF_HINT = re.compile(r"\.hint\(\s*[\"'](broadcast|broadcastjoin|mapjoin)[\"']")


def source_sql_hint_findings(text: str, relpath: str) -> list[tuple]:
    """(relpath, lineno, alias) for every SQL-text broadcast hint and
    every ``.hint("broadcast")`` call (alias ``<df.hint>`` for the
    latter — the receiver expression is not a stable key). Scans RAW
    text (SQL lives inside string literals, so the docstring-stripper
    must not run first — a false positive from prose quoting a hint is
    acceptable; prose should not quote forced hints approvingly
    anyway)."""
    out = [
        (relpath, text[: m.start()].count("\n") + 1, alias)
        for m in _SQL_HINT.finditer(text)
        for alias in re.split(r"\s*,\s*", m.group(1))
    ]
    out += [
        (relpath, text[: m.start()].count("\n") + 1, "<df.hint>")
        for m in _DF_HINT.finditer(text)
    ]
    return out


# DataFrame.coalesce(N) with a SMALL literal N: no shuffle barrier, so
# it caps the parallelism of the ENTIRE upstream stage, not just the
# write (the sinks.py write_jdbc docstring's round-14 lesson) — a
# coalesce(1) "one output file" staging step runs the whole transform
# single-threaded at 100 TB. Zero instances exist at the rule's
# introduction; this guards the class. F.coalesce(...) (the NULL
# function) never matches: the receiver must not be the functions
# module alias.
_COALESCE_CAP = 8  # literal N below this flags; >= is a deliberate fan-in


def source_coalesce_findings(text: str, relpath: str) -> list[tuple]:
    """(relpath, lineno, n) for every small-literal DataFrame.coalesce.

    Matches ANY receiver (round-18 advice: the old ``(\\w+)\\.coalesce``
    required a bare-name receiver, so the common chained spelling
    ``df.filter(...).coalesce(1)`` escaped the guard) and instead
    EXCLUDES the functions-module receivers ``F.`` / ``functions.`` —
    the SQL NULL-coalescing function, not the partition operator (its
    arguments are Columns, so a digit-only arg list cannot be it
    anyway; the exclusion is belt-and-braces)."""
    out = []
    clean = _strip_docstrings_and_comments(text)
    for m in re.finditer(r"\.coalesce\s*\(\s*(\d+)\s*\)", clean):
        recv = re.search(r"(\w+)\s*$", clean[: m.start()])
        if recv and recv.group(1) in ("F", "functions"):
            continue
        n = int(m.group(1))
        if n < _COALESCE_CAP:
            lineno = clean[: m.start()].count("\n") + 1
            out.append((relpath, lineno, n))
    return out


def source_window_expr_findings(text: str, relpath: str) -> list[tuple]:
    """(relpath, lineno, names) for Window.partitionBy args that are
    EXPRESSIONS over a bounded-domain column name."""
    out = []
    clean = _strip_docstrings_and_comments(text)
    for m in re.finditer(r"\bWindow\.partitionBy\s*\(", clean):
        open_idx = clean.index("(", m.end() - 1)
        args = _split_top_level_args(_balanced_paren_args(clean, open_idx))
        for a in args:
            if not a or a.startswith("*"):
                continue  # splat: unresolvable, plan rule is the backstop
            if _plain_col_name(a) or re.fullmatch(r"[A-Za-z_]\w*", a):
                continue  # plain ref: plan-level rule sees the base name
            hits = sorted(
                c
                for c in LOW_CARD_COLS
                if re.search(rf'["\']{c}["\']', a)
            )
            if hits:
                lineno = clean[: m.start()].count("\n") + 1
                out.append((relpath, lineno, tuple(hits)))
    return out


def run_source_audit(repo_root) -> list[str]:
    """Scan engine sources; return human-readable un-allowlisted smells."""
    from pathlib import Path

    root = Path(repo_root)
    findings: list[str] = []
    repart: dict[tuple[str, tuple[str, ...]], list[int]] = {}
    hints: dict[tuple[str, str], list[int]] = {}
    for d in SOURCE_SCAN_DIRS:
        for path in sorted((root / d).rglob("*.py")):
            rel = str(path.relative_to(root))
            text = path.read_text()
            for relpath, lineno, names in source_repartition_findings(
                text, rel
            ):
                repart.setdefault((relpath, names), []).append(lineno)
            for relpath, lineno, names in source_window_expr_findings(
                text, rel
            ):
                findings.append(
                    f"{relpath}:{lineno}: Window.partitionBy EXPRESSION "
                    f"over bounded-domain column(s) {list(names)} — "
                    "projects into _w0#N and escapes the plan-level rule"
                )
            for relpath, lineno, n in source_coalesce_findings(text, rel):
                findings.append(
                    f"{relpath}:{lineno}: DataFrame.coalesce({n}) — no "
                    "shuffle barrier, caps the WHOLE upstream stage at "
                    f"{n} task(s); use repartition({n}) for a bounded "
                    "fan-in that keeps upstream parallelism"
                )
            for relpath, lineno, alias in source_sql_hint_findings(
                text, rel
            ):
                hints.setdefault((relpath, alias), []).append(lineno)
    for (relpath, names), linenos in sorted(repart.items()):
        allowed, _reason = SOURCE_REPARTITION_OK.get((relpath, names), (0, ""))
        if len(linenos) > allowed:
            findings.append(
                f"{relpath}:{linenos}: repartition keyed ONLY by "
                f"bounded-domain column(s) {list(names)} — ≤|domain| "
                f"non-empty partitions at any scale "
                f"(found {len(linenos)}, allowed {allowed})"
            )
    for (relpath, alias), linenos in sorted(hints.items()):
        allowed, _reason = SOURCE_SQL_HINT_OK.get((relpath, alias), (0, ""))
        if len(linenos) > allowed:
            findings.append(
                f"{relpath}:{linenos}: SQL broadcast hint on {alias!r} "
                "— forced hints never fall back; needs a construction "
                f"bound + allowlist entry (found {len(linenos)}, "
                f"allowed {allowed})"
            )
    return findings


# ---------------------------------------------------------------------------
# HIDDEN-plan capture (round 17): plans that EXECUTE during query
# construction — eager ``localCheckpoint`` subtrees and batch staging
# writes — never appear in the returned DataFrame's plan (it scans the
# checkpoint RDD / the written files). This was the audit's documented
# blind spot (round-16 swept the 54 checkpoint sites BY HAND and left a
# "re-sweep when adding checkpointed builders" note). The audit now
# monkeypatches ``DataFrame.localCheckpoint`` (eager only — a LAZY
# checkpoint's subtree still prints inside the consumer plan, capturing
# it too would double-count) and the ``DataFrameWriter`` save methods
# around each query build, and runs the STRUCTURAL smell rules
# (cartesian / Python-UDF / global window / bounded-domain window /
# bounded-key repartition exchange) over every captured plan.
#
# The full-scan rule is deliberately NOT applied to hidden plans: a
# staging write or corpus-prep checkpoint often legitimately
# materializes a whole relation — pruning questions concern the QUERY's
# answer path, which the main plan covers.
#
# Allowlists below are UPPER bounds (<=), not exact counts like the
# main-plan allowlists: module-level caches (e.g. the graph layout
# cache) checkpoint on FIRST use only, so hidden-plan counts depend on
# audit order within a run.

from contextlib import contextmanager

_WRITER_METHODS = (
    "save", "saveAsTable", "insertInto", "parquet", "orc", "json",
    "csv", "text", "jdbc",
)


# DataFrameWriterV2 methods that EXECUTE (writeTo(...) itself is lazy —
# it returns the builder; these terminal calls run the plan).
_WRITER_V2_METHODS = (
    "create", "createOrReplace", "replace", "append", "overwrite",
    "overwritePartitions",
)


@contextmanager
def capture_eager_plans():
    """Yield a list that fills with the physical-plan strings of every
    eager checkpoint/localCheckpoint input and every batch write (V1
    DataFrameWriter save methods AND V2 writeTo terminal methods)
    issued while the context is active.

    Round-18 advice closure: the r17 layer patched only localCheckpoint
    and DataFrameWriter, so an eager ``DataFrame.checkpoint()`` or a
    ``writeTo(...).append()`` would have re-opened the hidden-plan
    blind spot with no guard flagging the new spelling (zero current
    uses of either — this pins the CLASS, like the coalesce rule)."""
    # Patch the CONCRETE classic class, not the abstract base: Spark 4
    # splits pyspark.sql.dataframe.DataFrame (abstract) from
    # pyspark.sql.classic.dataframe.DataFrame, and the classic override
    # would shadow a base-class patch (verified: a base-class patch
    # captures NOTHING). DataFrameWriter/DataFrameWriterV2 have no
    # classic split (both live in pyspark.sql.readwriter and hold the
    # classic df as self._df).
    import pyspark.sql.classic.dataframe as dfmod
    import pyspark.sql.readwriter as rwmod

    captured: list[str] = []

    def _mk_ckpt(orig):
        def ckpt(self, eager=True, *a, **kw):
            if eager:
                captured.append(
                    self._jdf.queryExecution().executedPlan().toString()
                )
            return orig(self, eager, *a, **kw)

        return ckpt

    orig_local = dfmod.DataFrame.localCheckpoint
    orig_reliable = dfmod.DataFrame.checkpoint
    dfmod.DataFrame.localCheckpoint = _mk_ckpt(orig_local)
    dfmod.DataFrame.checkpoint = _mk_ckpt(orig_reliable)

    saved: dict[tuple[type, str], object] = {}

    def _wrap(orig):
        def wrapper(self, *a, **kw):
            captured.append(
                self._df._jdf.queryExecution().executedPlan().toString()
            )
            return orig(self, *a, **kw)

        return wrapper

    for cls, methods in (
        (rwmod.DataFrameWriter, _WRITER_METHODS),
        (rwmod.DataFrameWriterV2, _WRITER_V2_METHODS),
    ):
        for name in methods:
            orig = getattr(cls, name, None)
            if orig is not None:
                saved[(cls, name)] = orig
                setattr(cls, name, _wrap(orig))
    try:
        yield captured
    finally:
        dfmod.DataFrame.localCheckpoint = orig_local
        dfmod.DataFrame.checkpoint = orig_reliable
        for (cls, name), orig in saved.items():
            setattr(cls, name, orig)


# Upper-bound allowlists for HIDDEN plans, per query: count and the
# written bound that makes each occurrence safe.
HIDDEN_GLOBAL_WINDOW_OK: dict[str, tuple[int, str]] = {
    # the pre-checkpoint prefix-min over the PRICE-BAND relation
    # (floor(price/5) — O(price-domain/5) rows, never O(part)); the
    # exact case the round-16 manual sweep verified by hand, now
    # machine-checked every audit run.
    "skyline_price_size": (1, "prefix-min over the ~#bands-row band stats"),
}
HIDDEN_LOW_CARD_WINDOW_OK: dict[str, tuple[int, str]] = {}
HIDDEN_LOW_CARD_EXCHANGE_OK: dict[str, tuple[int, str]] = {
    # the allowlisted (order_year, lineage_shard) staging repartition —
    # same site as the SOURCE_REPARTITION_OK entry; the capture layer
    # sees the write plan the main audit cannot. One file per leaf dir
    # by construction; parallelism years × _LINEAGE_SHARDS (the
    # documented fan-out knob).
    "src_file_lineage": (1, "lineage staging write, see SOURCE_REPARTITION_OK"),
}


def hidden_plan_smells(name: str, hidden: list[str]) -> list[str]:
    """Structural smells across a query's captured hidden plans."""
    smells = []
    n_cart = sum(
        1
        for p in hidden
        if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
    )
    if n_cart and name not in PAIRWISE_OK and name not in SCALAR_BROADCAST_OK:
        smells.append(f"hidden cartesian/nested-loop join x{n_cart}")
    n_py = sum(1 for p in hidden if "BatchEvalPython" in p)
    if n_py and name not in PYTHON_OK:
        smells.append(f"hidden row-at-a-time Python UDF x{n_py}")
    n_gw = sum(count_global_windows(p) for p in hidden)
    allowed, _ = HIDDEN_GLOBAL_WINDOW_OK.get(name, (0, ""))
    if n_gw > allowed:
        smells.append(
            f"hidden unpartitioned window x{n_gw} (allowed {allowed})"
        )
    n_lcw = sum(count_low_card_windows(p) for p in hidden)
    allowed, _ = HIDDEN_LOW_CARD_WINDOW_OK.get(name, (0, ""))
    if n_lcw > allowed:
        smells.append(
            f"hidden bounded-domain window x{n_lcw} (allowed {allowed})"
        )
    n_lce = sum(count_low_card_repartition_exchanges(p) for p in hidden)
    allowed, _ = HIDDEN_LOW_CARD_EXCHANGE_OK.get(name, (0, ""))
    if n_lce > allowed:
        smells.append(
            f"hidden bounded-key repartition exchange x{n_lce} "
            f"(allowed {allowed})"
        )
    return smells


# Queries that semantically consume EVERY column of a fixture table with
# no pushable predicate — the full scan IS the operator.
FULL_SCAN_OK = {
    # routes each whole record into good/quarantine by validity rules;
    # both branches keep all columns and no row is dropped, so neither
    # pruning nor pushdown can apply by definition.
    "dq_quarantine_split",
    # per-label grouped-map z-score consumes all 3 embedding columns
    # (vec_id, embedding, label) over the whole corpus.
    "sim_groupmap_zscore",
}

_FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _read_schema_field_count(segment: str) -> int:
    """Top-level field count of a ``ReadSchema: struct<...`` suffix.
    Tracks BOTH bracket kinds: ``decimal(12,2)``/``varchar(n)`` carry
    commas inside parentheses, which a <>-only depth counter would
    mis-count as field separators — overcounting would falsely flag a
    pruned scan as full the moment a fixture gains a decimal column
    (round-14 review; latent until then)."""
    depth = 0
    n = 1 if segment.strip(" >") else 0
    for ch in segment:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def full_scan_smells(plan: str, full_cols: dict[str, int]) -> list[str]:
    """Fixture-table scans reading every column with no pushed filter."""
    out = []
    for line in plan.splitlines():
        if "Scan parquet" not in line:
            continue
        mloc = re.search(r"(\w+)\.parquet", line)
        if not mloc or mloc.group(1) not in full_cols:
            continue  # temp/checkpoint relations are not fixture scans
        table = mloc.group(1)
        mrs = re.search(r"ReadSchema: struct<(.*)$", line)
        if not mrs:
            continue
        mpf = re.search(r"PushedFilters: \[(.*?)\]", line)
        pushed = mpf.group(1).strip() if mpf else ""
        # FileScan metadata is truncated at spark.sql.maxMetadataStringLength
        # (default 100 chars — main() raises it, but belt-and-braces): a
        # truncated struct undercounts fields, so treat any "..."-elided
        # ReadSchema as a full scan rather than letting a wide-table
        # select-* silently pass the detector.
        schema = mrs.group(1)
        truncated = "..." in schema
        if (
            truncated or _read_schema_field_count(schema) >= full_cols[table]
        ) and not pushed:
            out.append(table)
    return out


# Streaming queries materialise through a memory/parquet sink, so the
# DataFrame they return plans as a sink-table scan — the interesting plan
# ran inside the stream. Instead of a blanket skip (the round-6 blind
# spot), every stream_* query is pinned here to either its BATCH TWIN — a
# registered batch query with the same scan/agg/join shape, audited by
# the main loop above — or a written reason why no fixture-scan-level
# audit applies. A stream_* query with NO entry is flagged: new streaming
# queries can't silently bypass the audit.
STREAM_AUDIT: dict[str, str] = {
    "stream_tumbling_daily": (
        "twin:datetime_daily_rollup — same events scan + per-day hash agg; "
        "window() only changes the bucket expression"
    ),
    "stream_tumbling_multibatch": (
        "twin:datetime_daily_rollup — same plan as stream_tumbling_daily, "
        "split across maxFilesPerTrigger micro-batches (state, not scan)"
    ),
    "stream_sliding_2h": (
        "twin:datetime_daily_rollup — same single events scan + window() "
        "hash agg; the 2h/1h slide doubles bucket fan-out, adds no scan"
    ),
    "stream_session_windows": (
        "twin:sessionize_events_30m — batch sessionization over the same "
        "events scan; streaming form replaces lag/cum-sum with "
        "session_window state"
    ),
    "stream_dedup_users": (
        "twin:t2_dedup_by_key — same keyed dedup shape; streaming form "
        "holds keys in the state store instead of a shuffle-agg"
    ),
    "stream_dedup_within_watermark": (
        "twin:t2_dedup_by_key — same keyed dedup with watermark-BOUNDED "
        "state (the scale-safe variant; eviction is state, not scan)"
    ),
    "stream_stateful_user_totals": (
        "exempt — applyInPandasWithState keyed-state plan (FlatMapGroups"
        "WithState over one events scan, shuffled on user_id); no fixture "
        "scan beyond the source read; final state pinned to the batch "
        "groupBy twin in tests/test_streaming.py"
    ),
    "stream_foreachbatch_sink": (
        "twin:sink_partitioned_parquet — foreachBatch invokes the SAME "
        "batch parquet writer per micro-batch; read-back agg is a "
        "3-column hash agg"
    ),
    "stream_stream_join": (
        "twin:range_join_clicks_before_purchase — the batch interval "
        "join this query streams; state partitioning on the same "
        "user_id equi-key"
    ),
    "stream_stream_left_outer": (
        "twin:range_join_clicks_before_purchase — same interval join "
        "with outer emit on watermark expiry (state semantics, same scan)"
    ),
    "stream_static_join": (
        "twin:j1_star_join_revenue — stream-static dim equi-join, the "
        "streaming star-schema shape; static side re-resolved per batch"
    ),
    "stream_books_pages": (
        "twin:src_python_datasource — same custom Python Data Source "
        "(partition-parallel batch form audited there); no fixture table "
        "is scanned at all"
    ),
    "stream_state_inspect": (
        "exempt — reads the state-store metadata of a finished query "
        "(statestore format), not a fixture table; nothing to push down"
    ),
    "stream_binary_files": (
        "twin:src_binary_file_source — identical binaryFile relation "
        "(same .bin fixture files), batch form audited; maxFilesPerTrigger "
        "only splits arrival"
    ),
    "stream_cdc_upsert": (
        "twin:sink_merge_upsert — foreachBatch applies the same MERGE-"
        "emulation upsert per micro-batch against the parquet target"
    ),
    "stream_quarantine_split": (
        "twin:dq_quarantine_split — same one-pass conditional split "
        "(FULL_SCAN_OK there: the quality audit consumes every column by "
        "definition)"
    ),
}


def audit(spark, name, fn, sf_dir, full_cols):
    with capture_eager_plans() as hidden:
        df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    smells = hidden_plan_smells(name, hidden)
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if name not in PAIRWISE_OK and name not in SCALAR_BROADCAST_OK:
            smells.append("cartesian/nested-loop join")
    if "BatchEvalPython" in plan and name not in PYTHON_OK:
        smells.append("row-at-a-time Python UDF")
    full_scans = full_scan_smells(plan, full_cols)
    if full_scans and name not in FULL_SCAN_OK:
        smells.append(
            "unpruned+unfiltered scan of " + ",".join(full_scans)
        )
    n_global_win = count_global_windows(plan)
    allowed, _reason = GLOBAL_WINDOW_OK.get(name, (0, ""))
    if n_global_win > allowed:
        smells.append(
            f"unpartitioned window x{n_global_win} (allowed {allowed})"
        )
    n_lc_win = count_low_card_windows(plan)
    lc_allowed, _lc_reason = LOW_CARD_WINDOW_OK.get(name, (0, ""))
    if n_lc_win > lc_allowed:
        smells.append(
            f"bounded-domain window partition x{n_lc_win} "
            f"(allowed {lc_allowed})"
        )
    n_lc_ex = count_low_card_repartition_exchanges(plan)
    ex_allowed, _ex_reason = LOW_CARD_EXCHANGE_OK.get(name, (0, ""))
    if n_lc_ex > ex_allowed:
        smells.append(
            f"bounded-key repartition exchange x{n_lc_ex} "
            f"(allowed {ex_allowed})"
        )
    n_exchange = plan.count("Exchange hashpartitioning")
    n_scan = plan.count("Scan parquet")
    return smells, n_exchange, n_scan


def main() -> None:
    repo_root = __import__("pathlib").Path(__file__).resolve().parents[1]
    src_findings = run_source_audit(repo_root)
    for f in src_findings:
        print(f"SMELL source: {f}")
    if "--source-only" in sys.argv:
        print("\nsource audit " + ("FAILED" if src_findings else "clean"))
        sys.exit(1 if src_findings else 0)

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from orchestrated_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-audit")
    # Plan text truncates FileScan metadata at maxMetadataStringLength
    # (default 100 chars) — lineitem's 16-col struct alone is ~340 chars,
    # so the full-scan detector would undercount ReadSchema fields and
    # pass wide-table select-*. Raise it so schemas print whole.
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    full_cols = {
        t: len(spark.read.parquet(f"{sf_dir}/{t}.parquet").columns)
        for t in _FIXTURE_TABLES
    }
    qs = entrymod.queries()
    unknown = only - set(qs)
    if unknown:
        # A typo'd selection used to skip every loop and print "clean"
        # with ZERO plans audited (round-14 review) — a green gate
        # backed by nothing. Unknown names are a usage error.
        print(f"error: unknown query name(s): {sorted(unknown)}",
              file=sys.stderr)
        sys.exit(2)
    failures = [f"source:{f.split(':', 1)[0]}" for f in src_findings]
    # Streaming coverage first: every stream_* query must carry a batch
    # twin (which the loop below audits) or a written exemption; named
    # twins must exist in the registry and not themselves be skipped.
    for name in qs:
        if not name.startswith("stream_"):
            continue
        if only and name not in only:
            continue
        note = STREAM_AUDIT.get(name)
        if note is None:
            failures.append(name)
            print(f"SMELL {name}: streaming query with no STREAM_AUDIT entry")
            continue
        if note.startswith("twin:"):
            twin = note[5:].split(" ", 1)[0].rstrip("—").strip()
            if twin not in qs or twin.startswith("stream_"):
                failures.append(name)
                print(f"SMELL {name}: batch twin {twin!r} not in registry")
                continue
            if only:
                # A stream-only selection must audit the twin PLAN that
                # justifies its "ok", not just the registry membership
                # (round-14 review: `plan_audit.py <sf> stream_x` used
                # to exit 0 with no plan inspected at all).
                only.add(twin)
        print(f"ok    {name}: {note.split(' — ')[0]}")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name.startswith("stream_"):
            continue
        try:
            smells, n_ex, n_scan = audit(spark, name, fn, sf_dir, full_cols)
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"ERROR {name}: {str(ex)[:120]}")
            continue
        tag = "SMELL" if smells else "ok"
        line = f"{tag:5} {name}: shuffles={n_ex} scans={n_scan}"
        if smells:
            failures.append(name)
            line += "  <-- " + "; ".join(smells)
        print(line)
    print(f"\n{len(failures)} flagged: {failures}" if failures else "\nclean")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
