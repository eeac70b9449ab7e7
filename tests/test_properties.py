"""Property-based tests (hypothesis) for the cross-engine determinism
foundation, plus parallelism-independence checks.

The whole oracle-parity strategy rests on two claims:
1. decimal-quantized float reductions are reduction-order-insensitive and
   bit-identical between Spark and DuckDB (functions/determinism.py);
2. declared results do not depend on the session's shuffle width (what
   changes between a local session and a 1000-executor cluster).
Both are asserted here on adversarial inputs, not just the fixtures.
The Python-worker boot that get_spark sets up (session.py) is pinned here
too: the package daemon runs in every task slot, and files added with
addPyFile still import in warm workers.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from billing_data_loader_spark.functions.determinism import (
    dsum,
    o_dsum,
)
from billing_data_loader_spark.oracle import check_query
from billing_data_loader_spark.plans.catalog import catalog
from billing_data_loader_spark.session import conf_override, prep

from .conftest import SF_DIR

# doubles in the magnitude band the fixtures (and billing data) live in;
# decimal(28,6) quantization is only claimed for |x| < ~1e15
_VALUES = st.lists(
    st.floats(
        min_value=-1e9,
        max_value=1e9,
        allow_nan=False,
        allow_infinity=False,
        width=64,
    ),
    min_size=1,
    max_size=300,
)


def _duckdb_dsum(xs):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    d_val = con.execute(f"SELECT {o_dsum('v', 's')} FROM t").fetchone()[0]
    con.close()
    return d_val


def _spark_dsum(spark, xs, parts):
    sdf = spark.createDataFrame([(x,) for x in xs], "v double").repartition(
        parts
    )
    return sdf.agg(dsum("v", "s")).collect()[0]["s"]


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=_VALUES)
def test_dsum_matches_duckdb(spark, xs):
    """The cross-engine contract, stated precisely. (a) Spark's decimal
    sum is REDUCTION-ORDER-INSENSITIVE: 1-partition and 8-partition
    reductions are bit-identical (decimal associativity). (b) DuckDB
    agrees within one quantum (1e-6) per element: hypothesis found that
    the engines' double->decimal conversions are not the same algorithm —
    Java goes through the SHORTEST decimal repr then HALF_UP, DuckDB
    rounds the EXACT binary expansion — so a double whose shortest repr
    and exact expansion straddle a scale-6 half-boundary (e.g.
    140737488.52250051, exact ...500514...) quantizes one ulp apart.
    Zero of 600,000 real fixture products hit that gap (measured), which
    is why every oracle hash-matches bitwise in practice; the per-element
    quantum bound is the guarantee that holds for ALL doubles."""
    s1 = _spark_dsum(spark, xs, 1)
    s8 = _spark_dsum(spark, xs, 8)
    assert s1 == s8 or (s1 is None and s8 is None), f"{s1!r} != {s8!r}"
    d_val = _duckdb_dsum(xs)
    assert (s8 is None) == (d_val is None)
    if s8 is not None:
        assert abs(s8 - d_val) <= len(xs) * 1e-6, (
            f"spark={s8!r} duckdb={d_val!r} n={len(xs)}"
        )


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(
        st.decimals(
            min_value=-10**9,
            max_value=10**9,
            places=6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=300,
    )
)
def test_dsum_bitwise_on_decimal_born_values(spark, xs):
    """For doubles born from <=6-decimal values — every money/quantity/
    rate column in the fixtures and in billing data generally — the two
    conversion algorithms coincide (shortest repr IS the decimal source,
    nowhere near a deeper boundary), so the cross-engine sum is
    bit-identical, over an 8-partition random reduction order."""
    fs = [float(x) for x in xs]
    s_val = _spark_dsum(spark, fs, 8)
    d_val = _duckdb_dsum(fs)
    assert s_val == d_val, f"spark={s_val!r} duckdb={d_val!r}"


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, width=64
        ),
        min_size=1,
        max_size=50,
    )
)
def test_quantizer_codes_engine_free(spark, xs):
    """floor(x/s + 0.5) int8 codes (ext_embedding_quantize's quantizer)
    agree between Spark and plain Python IEEE arithmetic for any scale
    derived from the data — the tie-free property that motivated floor
    over round()."""
    from pyspark.sql import functions as F

    mx = max(abs(x) for x in xs)
    scale = mx / 127
    if scale == 0:  # all-zero OR subnormal max that underflows /127 —
        return      # the operator excludes these rows (filter scale > 0)
    sdf = spark.createDataFrame([(x,) for x in xs], "v double")
    got = [
        r["c"]
        for r in sdf.select(
            F.floor(F.col("v") / scale + 0.5).cast("int").alias("c")
        ).collect()
    ]
    want = [int(math.floor(x / scale + 0.5)) for x in xs]
    assert got == want


#: keys whose plans exercise the risky reductions (float aggs, windows,
#: banding, iterative propagation) — re-checked under a different shuffle
#: width than the one they were declared at.
_WIDTH_KEYS = [
    "agg_q1_pricing",
    "agg_stats",
    "win_running_sum",
    "ext_neardup_minhash_lsh",
    "agg_incremental_merge",
    # iterative / segment-generated plans: partition count changes the
    # explode fan-out and per-round join placement, results must not move
    "ts_interpolate_linear",
    "ext_pagerank_lite",
    "ext_dedup_cluster",
    # round 9: partitioning-sensitive shapes — per-doc islands windows,
    # global bottom-k sketches, broadcast-fold argmins, per-(epoch, shard)
    # rank windows, adaptive path pick off a key-sampled statistic
    "ext_substring_dedup",
    "ext_overlap_kmv",
    "ext_ann_ivfpq",
    "ext_epoch_shuffle",
    "ext_pq_train",
    "ext_dup_ngram_bloom",
    # the width sets the partitions of a persisted frame (AQE cannot
    # coalesce a cache scan) and the range-bucket count of a global rank
    "ext_containment_neardup",
    "win_ntile_pctrank",
]


def _off_width(spark) -> str:
    """A shuffle width other than the session's: 7, or 5 on a 7-slot host."""
    return "5" if spark.conf.get("spark.sql.shuffle.partitions") == "7" else "7"


@pytest.mark.parametrize("key", _WIDTH_KEYS)
def test_result_independent_of_shuffle_width(spark, key):
    """The declared result must not depend on parallelism: re-run under a
    shuffle width other than the session's (which follows the host's task
    slots), so hash assignments change, and the oracle hash must still
    match — the local stand-in for 'same answer on a 1000-executor
    cluster'."""
    spec = catalog()[key]
    width = _off_width(spark)
    with conf_override(spark, {"spark.sql.shuffle.partitions": width}):
        ok, msg = check_query(spec.fn(spark, SF_DIR), spec.oracle, SF_DIR)
    assert ok, f"{key} under width {width}: {msg}"


def test_shuffle_width_is_task_slots(spark):
    """prep sets the shuffle width to the session's task slots, on our own
    session and on one whose width was set to something else first (the
    driver hands us a session we did not build)."""
    key = "spark.sql.shuffle.partitions"
    want = str(spark.sparkContext.defaultParallelism)
    assert spark.conf.get(key) == want
    with conf_override(spark, {key: _off_width(spark)}):
        spark._bdl_prepped = False
        try:
            prep(spark)
            assert spark.conf.get(key) == want
        finally:
            spark._bdl_prepped = True


def _in_workers(spark, fn, n_parts) -> list[str]:
    """str(fn()) from a Python worker, one task per partition."""

    def _run(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"out": [str(fn())]})

    df = spark.range(0, n_parts, 1, n_parts).mapInPandas(_run, "out string")
    return [r.out for r in df.collect()]


def test_workers_boot_through_package_daemon(spark):
    """get_spark's workers run the package daemon's per-task set-up (the
    one that skips the import-cache re-read), in every task slot."""

    def _setup_module():
        import pyspark.worker

        return pyspark.worker.setup_spark_files.__module__

    n = spark.sparkContext.defaultParallelism
    assert _in_workers(spark, _setup_module, n) == [
        "billing_data_loader_spark.worker_daemon"
    ] * n


def test_added_py_files_import_in_warm_workers(spark, tmp_path):
    """What per-task import-cache invalidation protects: a .py file added
    after the workers are warm is importable by the next task. The file
    lands in the Spark files directory, which is already on sys.path, so
    the task adds no path entry; the directory's mtime is set back to the
    value the workers cached, as a coarse file-system clock would leave
    it, so only an invalidation lets the import see the file."""
    import os
    import uuid

    from pyspark import SparkFiles

    def _refresh():
        import importlib.util

        return importlib.util.find_spec("bdl_addpy_absent")

    n = spark.sparkContext.defaultParallelism
    root = SparkFiles.getRootDirectory()
    stem = f"bdl_addpy_{uuid.uuid4().hex}"
    for i in range(3):
        _in_workers(spark, _refresh, n)  # every worker caches root's listing
        before = os.stat(root)
        path = tmp_path / f"{stem}_{i}.py"
        path.write_text(f"VALUE = {i}\n")
        spark.sparkContext.addPyFile(str(path))
        spark.range(1).count()  # the executor fetches the file into root
        assert os.path.exists(os.path.join(root, path.name))
        os.utime(root, ns=(before.st_atime_ns, before.st_mtime_ns))

        def _import(name=path.stem):
            import importlib

            return importlib.import_module(name).VALUE

        assert _in_workers(spark, _import, n) == [str(i)] * n


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_union_find_matches_bfs_closure(pairs):
    """The single-task union-find kernel behind ext_dedup_cluster's
    small-graph path (round 5) must agree with a naive BFS closure on
    arbitrary edge lists: same components, min-member labels, and sizes.
    Pure Python — the Spark-level path equality is pinned separately in
    tests/test_round2.py."""
    import pandas as pd

    from billing_data_loader_spark.operators.llm_pipeline import (
        _cc_union_find,
    )

    # mirror pairs both ways, as the operator does; drop self-pairs the
    # caller never produces but the kernel must tolerate anyway
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    out = list(
        _cc_union_find(
            iter(
                [
                    pd.DataFrame(
                        {
                            "a": [e[0] for e in edges],
                            "b": [e[1] for e in edges],
                        }
                    )
                ]
            )
        )
    )
    # BFS reference
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[int, tuple[int, int]] = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp = {start}
        frontier = [start]
        while frontier:
            nxt = [y for x in frontier for y in adj[x] if y not in comp]
            comp.update(nxt)
            frontier = nxt
        seen |= comp
        lbl = min(comp)
        for x in comp:
            expect[x] = (lbl, len(comp))
    if not edges:
        assert out == []
        return
    got = {
        int(r.doc_id): (int(r.cluster_id), int(r.cluster_size))
        for r in out[0].itertuples()
    }
    assert got == expect


@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_bucket_pair_generation_expression(spark, ids):
    """The array-combinatoric ordered-pair expression used by the MinHash
    band buckets and the SimHash exact-dup groups (round 5) must emit
    exactly the C(n,2) ordered pairs of a sorted id list, each once."""
    import itertools

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(ids,)], "ds: array<long>").select(
        F.sort_array("ds").alias("ds")
    )
    pair_structs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    got = {
        (r.p.doc_a, r.p.doc_b)
        for r in df.select(F.explode(pair_structs).alias("p")).collect()
    }
    expect = set(itertools.combinations(sorted(ids), 2))
    assert got == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=_VALUES)
def test_dsum_sql_matches_dataframe_and_duckdb(spark, xs):
    """The round-6 SQL-text helper (dsum_sql, used by SQL-string queries
    like agg_grouping_sets) must plan the same ops as the DataFrame dsum
    and land bit-identical to the DuckDB o_dsum form on adversarial
    doubles — all three are claimed to be one quantization function."""
    from billing_data_loader_spark.functions.determinism import dsum_sql

    sdf = spark.createDataFrame([(x,) for x in xs], "v double")
    sdf.createOrReplaceTempView("t_dsum_sql")
    sql_val = spark.sql(
        f"SELECT {dsum_sql('v')} AS s FROM t_dsum_sql"
    ).collect()[0]["s"]
    df_val = _spark_dsum(spark, xs, 4)
    d_val = _duckdb_dsum(xs)
    assert sql_val == df_val
    assert (
        sql_val == d_val
        or (sql_val is None and d_val is None)
        or math.isclose(sql_val, d_val, rel_tol=0.0, abs_tol=0.0)
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=_VALUES)
def test_quantize_long_matches_duckdb_floor(spark, xs):
    """quantize_long (micro-unit integers carried through windows, state
    stores, and materialized partials) must equal DuckDB's floor form
    per element: the two engines quantize identically BEFORE any sum."""
    from billing_data_loader_spark.functions.determinism import quantize_long

    sdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i long, v double"
    )
    got = {
        r["i"]: r["q"]
        for r in sdf.select(
            "i", quantize_long("v").alias("q")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, x) for i, x in enumerate(xs)]
    )
    want = dict(
        con.execute(
            "SELECT i, CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5)"
            " AS BIGINT) FROM t"
        ).fetchall()
    )
    con.close()
    assert got == want


# --- substring-dedup recovery guarantee (round 9) ---------------------------

_SSD_CASES = st.tuples(
    st.integers(min_value=23, max_value=40),  # run length >= W + L - 1
    st.integers(min_value=8, max_value=30),  # doc1 prefix filler
    st.integers(min_value=0, max_value=30),  # doc1 suffix filler
    st.integers(min_value=8, max_value=30),  # doc2 prefix filler
    st.integers(min_value=0, max_value=30),  # doc2 suffix filler
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(case=_SSD_CASES)
def test_substring_dedup_recovers_any_long_planted_run(spark, tmp_path, case):
    """The documented guarantee (operators/dedup_span.py): ANY cross-doc
    duplicated run of >= W + L - 1 tokens is recovered EXACTLY — marked
    windows cover every interior position, merge into one maximal run,
    and unique filler never extends the span. Asserted on adversarial
    planted geometries, not just the fixture."""
    run_len, p1, s1, p2, s2 = case
    shared = [f"s{i}" for i in range(run_len)]
    doc1 = (
        [f"a{i}" for i in range(p1)]
        + shared
        + [f"b{i}" for i in range(s1)]
    )
    doc2 = (
        [f"c{i}" for i in range(p2)]
        + shared
        + [f"d{i}" for i in range(s2)]
    )
    doc3 = [f"e{i}" for i in range(35)]
    rows = [
        (1, " ".join(doc1), "en", "plant", len(" ".join(doc1))),
        (2, " ".join(doc2), "en", "plant", len(" ".join(doc2))),
        (3, " ".join(doc3), "en", "plant", len(" ".join(doc3))),
    ]
    out_dir = tmp_path / f"ssd_{run_len}_{p1}_{s1}_{p2}_{s2}"
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(out_dir / "documents.parquet")
    )
    spans = catalog()["ext_substring_dedup"].fn(spark, str(out_dir)).collect()
    got = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in spans}
    assert len(spans) == 2 and sorted(got) == [1, 2]
    assert got[1] == (p1 + 1, p1 + run_len)
    assert got[2] == (p2 + 1, p2 + run_len)


# --- round-11c algebra pins ---------------------------------------------------

_SPENDS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**9),  # cents
        st.integers(min_value=0, max_value=10**6),  # tie-break key
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],
)


@given(_SPENDS)
@settings(max_examples=200, deadline=None)
def test_gini_rank_identity_equals_mad_definition(xs):
    """prof_gini_concentration's rank identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending x must
    equal the mean-absolute-difference definition
    G = sum_{i,j} |x_i - x_j| / (2*n*sum(x)) on arbitrary non-negative
    integer inputs — including ties, where the identity's tie-order
    invariance is the load-bearing claim."""
    vals = [x for x, _ in xs]
    total = sum(vals)
    if total == 0:
        return  # the operator NULLIF-guards this case
    n = len(vals)
    asc = sorted(xs)
    rank_form = (
        2.0 * sum((i + 1) * x for i, (x, _) in enumerate(asc))
        - (n + 1.0) * total
    ) / (n * float(total))
    mad_form = sum(
        abs(a - b) for a in vals for b in vals
    ) / (2.0 * n * float(total))
    assert abs(rank_form - mad_form) < 1e-9


_POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # spend (small domain
        st.integers(min_value=-20, max_value=20),  # bal    forces ties)
    ),
    min_size=1,
    max_size=40,
)


@given(_POINTS)
@settings(max_examples=200, deadline=None)
def test_skyline_sort_scan_identity(points):
    """ext_skyline_dominance's window algebra — dominated iff the max
    bal over strictly-higher spends reaches yours OR a same-spend peer
    strictly beats you — must equal the quadratic strict-dominance
    definition on arbitrary integer points, ties and duplicates
    included."""
    pts = list(enumerate(points))  # (id, (spend, bal)) — ids break ties

    def brute(p):
        (pid, (sp, bal)) = p
        return not any(
            q_sp >= sp and q_bal >= bal and (q_sp > sp or q_bal > bal)
            for qid, (q_sp, q_bal) in pts
            if qid != pid
        )

    def window(p):
        (pid, (sp, bal)) = p
        higher = [q_bal for _, (q_sp, q_bal) in pts if q_sp > sp]
        m_higher = max(higher) if higher else None
        m_peer = max(
            q_bal for _, (q_sp, q_bal) in pts if q_sp == sp
        )
        dominated = (
            m_higher is not None and m_higher >= bal
        ) or m_peer > bal
        return not dominated

    for p in pts:
        assert brute(p) == window(p)


@given(_SPENDS)
@settings(max_examples=200, deadline=None)
def test_pareto_abc_classes_are_rank_prefixes(xs):
    """win_pareto_abc's integer predicates must always produce classes
    that are rank prefixes (every A before every B before every C in
    the cum order), a non-empty A, and a partition of the rows."""
    desc = sorted(xs, key=lambda t: (-t[0], t[1]))
    total = sum(x for x, _ in desc)
    cum = 0
    seen = []
    for rn, (x, _) in enumerate(desc, start=1):
        cum += x
        if rn == 1 or 5 * cum <= 4 * total:
            seen.append("A")
        elif 20 * cum <= 19 * total:
            seen.append("B")
        else:
            seen.append("C")
    assert seen[0] == "A"
    assert "".join(seen) == "".join(sorted(seen))  # A* B* C* prefix order
    assert len(seen) == len(xs)
