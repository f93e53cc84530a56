"""Property-based tests (hypothesis) for the algorithmic operators —
randomized inputs against brute-force reference implementations, the
standard way to catch edge geometry no hand-picked fixture covers
(duplicate edges, self-loops, boundary timestamps, equal keys).

Example counts are small: each example runs real Spark jobs, so the
value is breadth of SHAPE, not volume. deadline=None because Spark
job latency is unrelated to the property being tested.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=0, max_size=30
)


@_SET
@given(edges=edges_strategy)
def test_connected_components_equals_union_find(spark, edges):
    from a2b_spark.operators.graph import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}

    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")
    for thresh in (1 << 18, 0):  # driver fast path AND distributed loop
        got = {
            r.node: r.component
            for r in connected_components(df, collect_threshold=thresh).collect()
        }
        assert got == expect, f"edges={edges} thresh={thresh}"


intervals_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(-50, 150), st.integers(0, 100)),
    min_size=1,
    max_size=15,
)
points_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(-60, 160)), min_size=1, max_size=15
)


@_SET
@given(ivs=intervals_strategy, pts=points_strategy)
def test_range_join_equals_naive_between(spark, ivs, pts):
    from a2b_spark.operators.rangejoin import range_join

    # (iid, start, end) with end = start + span (>= start, under the cap)
    ivs_rows = [(i, s, s + w) for i, (_, s, w) in enumerate(ivs)]
    pts_rows = [(i, t) for i, (_, t) in enumerate(pts)]
    naive = {
        (p, i)
        for p, t in pts_rows
        for i, s, e in ivs_rows
        if s <= t <= e
    }
    pdf = spark.createDataFrame(pts_rows, "pid long, t long")
    idf = spark.createDataFrame(ivs_rows, "iid long, s long, e long")
    got = {
        (r.pid, r.iid)
        for r in range_join(pdf, idf, "t", "s", "e", bin_width=7).collect()
    }
    assert got == naive


asof_left = st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=12)
asof_right = st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=12)


@_SET
@given(left=asof_left, right=asof_right)
def test_asof_join_equals_reference(spark, left, right):
    """asof semantics: for each left row, the right row with the
    LATEST ts <= left.ts on the same key (ties on ts broken by the
    largest tiebreak id, matching the operator's contract)."""
    from a2b_spark.operators.asof import asof_join

    lrows = [(i, k, t) for i, (k, t) in enumerate(left)]
    rrows = [(i, k, t) for i, (k, t) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, ts long")
    rdf = spark.createDataFrame(rrows, "rid long, k long, ts long")
    out = asof_join(
        ldf, rdf, on=["k"], ts_col="ts", right_cols=["rid"], right_tiebreak="rid"
    )
    got = {r.lid: r.rid for r in out.collect()}
    for lid, k, t in lrows:
        cands = [(rt, rid) for rid, rk, rt in rrows if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert got.get(lid) == expect, f"lid={lid} k={k} t={t}"


words_strategy = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
    min_size=1,
    max_size=40,
)


@_SET
@given(doc_a=words_strategy, doc_b=words_strategy, shared=words_strategy)
def test_winnowing_shared_run_guarantee(spark, doc_a, doc_b, shared):
    """The winnowing guarantee (SIGMOD'03): two documents sharing a
    token run of length >= k + w - 1 MUST share at least one
    fingerprint. Construct the pair by planting a shared run of
    exactly that length inside random noise."""
    from a2b_spark.functions.text import winnow_fingerprints

    k, w = 5, 4
    # shared has min_size=1, so shared * 10 always covers k+w-1 = 8
    run = (shared * 10)[: k + w - 1]
    ta = " ".join(doc_a + run + doc_a)
    tb = " ".join(doc_b + run + doc_b)
    df = spark.createDataFrame([(1, ta), (2, tb)], "doc_id long, text string")
    fps = {r.doc_id: set(r.fps) for r in winnow_fingerprints(df, "text", "doc_id", k=k, w=w).collect()}
    assert fps[1] & fps[2], f"no shared fingerprint for shared run: {run}"


@_SET
@given(
    n_files=st.integers(1, 6),
    rows=st.lists(
        st.tuples(st.integers(0, 40), st.sampled_from(["p0", "p1", "p2"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
)
def test_compact_preserves_data_any_layout(spark, tmp_path_factory, n_files, rows):
    """compact() must be byte-identical on content and never increase
    the file count, for ANY fragmentation layout and partitioning."""
    from a2b_spark.storage.table import VersionedParquetTable

    base = tmp_path_factory.mktemp("cmp")
    t = VersionedParquetTable(str(base / "t"), key_cols=("id",), partition_by=("p",))
    df = spark.createDataFrame(rows, "id int, p string").repartition(n_files)
    t.overwrite(df)

    def files(tbl):
        import os

        vdir = os.path.join(tbl.path, tbl.current_version())
        return sum(
            1
            for root, _, fs in os.walk(vdir)
            for f in fs
            if not f.startswith(("_", "."))
        )

    before_rows = sorted((r["id"], r["p"]) for r in t.read(spark).collect())
    n_before = files(t)
    t.compact(spark)
    assert sorted((r["id"], r["p"]) for r in t.read(spark).collect()) == before_rows
    assert files(t) <= n_before


@_SET
@given(
    existing=st.dictionaries(
        st.one_of(st.none(), st.integers(0, 9)),
        st.one_of(st.none(), st.text(alphabet="ab", max_size=2)),
        max_size=8,
    ),
    batch=st.dictionaries(
        st.one_of(st.none(), st.integers(0, 9)),
        st.one_of(st.none(), st.text(alphabet="ab", max_size=2)),
        max_size=8,
    ),
)
def test_merge_matches_dict_model(spark, existing, batch):
    """merge_dataframes == dict-update semantics, including NULL keys
    (null-safe match) and explicit NULL values (batch NULL overwrites —
    no silent coalesce resurrection)."""
    from a2b_spark.storage.merge import merge_dataframes

    e_df = spark.createDataFrame(
        [(k, v) for k, v in existing.items()] or [], "k int, v string"
    )
    b_df = spark.createDataFrame(
        [(k, v) for k, v in batch.items()] or [], "k int, v string"
    )
    got = {
        r["k"]: r["v"] for r in merge_dataframes(e_df, b_df, ["k"]).collect()
    }
    assert got == {**existing, **batch}


docs_strategy = st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@_SET
@given(corpus_texts=docs_strategy, bench_texts=docs_strategy)
def test_containment_matches_bruteforce(spark, corpus_texts, bench_texts):
    """containment_contaminated_pairs == the brute-force set-algebra
    definition over random tiny corpora (n=2 grams, t=0.5), including
    short docs (whole-text gram), empty texts (never cross-match),
    and docs appearing verbatim on both sides."""
    from a2b_spark.operators.dedup import containment_contaminated_pairs

    n = 2

    def grams(text):
        ws = text.split(" ")
        gs = (
            {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
            if len(ws) >= n
            else {" ".join(ws)}
        )
        return {g for g in gs if g}

    corpus = [(i, t) for i, t in enumerate(corpus_texts)]
    bench = [(100 + i, t) for i, t in enumerate(bench_texts)]
    expect = {}
    for bid, bt in bench:
        bg = grams(bt)
        if not bg:
            continue
        for cid, ct in corpus:
            shared = len(grams(ct) & bg)
            if shared / len(bg) >= 0.5:
                expect[(cid, bid)] = (shared, len(bg), shared / len(bg))

    c_df = spark.createDataFrame(corpus, "doc_id long, text string")
    b_df = spark.createDataFrame(bench, "doc_id long, text string")
    got = {
        (r.doc_id, r.bench_id): (r.n_shared_ngrams, r.bench_ngrams, r.containment)
        for r in containment_contaminated_pairs(
            c_df, b_df, "text", "doc_id", n=n, threshold=0.5
        ).collect()
    }
    assert got == expect


@_SET
@given(
    vecs=st.lists(
        st.lists(
            st.integers(-8, 8).map(float), min_size=3, max_size=3
        ),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(1, 4),
)
def test_kmeans_assign_matches_argmin(spark, vecs, k):
    """kmeans_assign == numpy argmin over the same deterministic seeds
    (smallest ids), including exact-tie geometry (integer coordinates
    make ties common) resolved to the lower centroid index."""
    from a2b_spark.operators.similarity import kmeans_assign

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [v for _, v in rows[: min(k, len(rows))]]
    expect = {}
    for i, v in rows:
        dists = [
            round(sum((a - b) * (a - b) for a, b in zip(v, c)), 6) for c in cents
        ]
        best = min(range(len(dists)), key=lambda j: (dists[j], j))
        expect[i] = (best, dists[best])
    got = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in kmeans_assign(df, "embedding", "vec_id", k=k).collect()
    }
    assert got == expect


@_SET
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(
                st.just("merge"),
                st.dictionaries(
                    st.integers(0, 9), st.text(alphabet="xy", max_size=2), max_size=5
                ),
            ),
            st.tuples(st.just("delete"), st.sets(st.integers(0, 9), max_size=4)),
            st.tuples(st.just("compact"), st.none()),
            st.tuples(st.just("vacuum"), st.none()),
        ),
        min_size=1,
        max_size=7,
    ),
    partitioned=st.booleans(),
)
def test_table_op_sequences_match_dict_model(spark, tmp_path_factory, ops, partitioned):
    """Random merge/delete/compact/vacuum sequences against a dict
    model — the storage layer's end-to-end contract including the
    round-5 changes: Hive-escaped partition values (':' in the
    partition column) through every path, and extra metadata files
    carried forward across every commit kind."""
    import os

    from a2b_spark.storage.table import VersionedParquetTable

    tmp = tmp_path_factory.mktemp("fuzz")
    t = VersionedParquetTable(
        str(tmp / "t"),
        key_cols=("k",),
        partition_by=("p",) if partitioned else None,
    )
    # escaped-char partition values exercise _unescape_hive everywhere
    part = lambda k: f"b{k % 2}:{k % 3}"  # noqa: E731

    model: dict = {}
    marker_written = False
    for op, arg in ops:
        if op == "merge":
            if not arg:
                continue
            batch = spark.createDataFrame(
                [(k, part(k), v) for k, v in arg.items()],
                "k int, p string, v string",
            )
            if t.exists():
                t.merge(batch)
            else:
                # first write carries an extra metadata file; it must
                # then survive every later commit of any kind
                t.overwrite(batch, extra_files={"_FUZZ_MARK": "42"})
                marker_written = True
            model.update({k: (part(k), v) for k, v in arg.items()})
        elif op == "delete":
            if not t.exists() or not arg:
                continue
            keys = spark.createDataFrame(
                [(k, part(k)) for k in arg], "k int, p string"
            )
            t.delete_keys(keys)
            for k in arg:
                model.pop(k, None)
        elif op == "compact":
            if t.exists():
                t.compact(spark, min_files=2)
        elif op == "vacuum":
            t.vacuum()

    if not t.exists():
        return
    got = {r["k"]: (r["p"], r["v"]) for r in t.read(spark).collect()}
    assert got == model, f"ops={ops} partitioned={partitioned}"
    if marker_written:
        cur = os.path.join(t.path, t.current_version(), "_FUZZ_MARK")
        assert os.path.exists(cur), "extra metadata lost by a later commit"
        with open(cur) as f:
            assert f.read() == "42"


# ---------------------------------------------------------- incremental
inc_history = st.lists(
    st.tuples(
        st.booleans(),  # run incrementally?
        st.dictionaries(  # key -> payload for this run's source
            st.integers(1, 6), st.sampled_from(["a", "b", "c", None]),
            min_size=1, max_size=6,
        ),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(history=inc_history)
def test_incremental_matches_model_over_random_histories(spark, tmp_path_factory, history):
    """Random interleavings of incremental and full runs over drifting
    sources: the destination always equals the dict model (last run's
    source wins), and an incremental run writes exactly the rows whose
    payload differs from what the destination holds — whichever kind
    of run wrote it (a content rollback after a full run is written,
    never skipped)."""
    from a2b_spark.core.migration import IdField, Migration
    from a2b_spark.exec.executor import run_migration
    from a2b_spark.mapping.store import MappingStore
    from a2b_spark.sinks.parquet import ParquetDestination
    from a2b_spark.sources.base import DataFrameSource

    base = tmp_path_factory.mktemp("inc_prop")
    mapper = MappingStore(spark, str(base / "maps"))
    dest_path = str(base / "dest")

    _ABSENT = object()  # never migrated — always written
    last_migrated: dict = {}  # key -> payload as of the last run that saw it
    for incremental, source in history:
        df = spark.createDataFrame(
            [(k, v) for k, v in source.items()], "c_custkey long, v string"
        )
        m = Migration(
            name="p",
            source=DataFrameSource(df),
            destination=ParquetDestination(dest_path, key_cols=("id",)),
            source_ids=(IdField("c_custkey", "int"),),
            destination_ids=(IdField("id", "int"),),
            transform=lambda d: d.select("__src__", "__dest_id", "c_custkey", "v"),
        )
        r = run_migration(spark, m, mapper, incremental=incremental)
        if incremental:
            expect_written = sum(
                1 for k, v in source.items() if last_migrated.get(k, _ABSENT) != v
            )
            assert r.rows_written == expect_written
            assert r.rows_unchanged == len(source) - expect_written
        else:
            assert r.rows_written == len(source)
        last_migrated.update(source)
        # the destination holds the latest payload for every key ever seen
        snap = {
            r2.c_custkey: r2.v
            for r2 in m.destination.read_snapshot(spark).select("c_custkey", "v").collect()
        }
        assert snap == dict(last_migrated)


# ---------------------------------------------------------------------------
# file-skipping statistics: read_pruned must EQUAL a filtered full read
# for arbitrary data (nulls, negatives, duplicate values), arbitrary
# file layouts, and arbitrary conjunctive predicates — the property the
# whole _STATS layer stands on (a wrong skip silently loses rows).

_prune_rows = st.lists(
    st.tuples(
        st.integers(0, 9_999),                                  # key
        st.one_of(st.none(), st.integers(-50, 50)),             # int value
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False, width=32)),
        st.one_of(st.none(), st.sampled_from(["aa", "ab", "b", "zz", ""])),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[0],
)

_ops = st.sampled_from(["=", "<", "<=", ">", ">="])


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=_prune_rows,
    layout=st.integers(1, 5),
    p1=st.tuples(st.sampled_from(["k", "i", "x"]), _ops, st.integers(-60, 60)),
    use_between=st.booleans(),
    lo=st.integers(-60, 60),
    span=st.integers(0, 40),
)
def test_read_pruned_equals_filtered_read(
    spark, tmp_path_factory, rows, layout, p1, use_between, lo, span
):
    from a2b_spark.storage.stats import normalize_predicates, predicates_to_column
    from a2b_spark.storage.table import VersionedParquetTable

    base = tmp_path_factory.mktemp("prune_prop")
    t = VersionedParquetTable(str(base / "t"), key_cols=("k",))
    df = spark.createDataFrame(rows, "k long, i long, x float, s string")
    t.overwrite(df.repartition(layout) if layout > 1 else df.coalesce(1))

    col, op, val = p1
    preds = [(col, op, float(val) if col == "x" else val)]
    if use_between:
        preds.append(("k", "between", (lo, lo + span)))
    got = sorted(map(tuple, t.read_pruned(spark, preds).collect()))
    want = sorted(
        map(
            tuple,
            t.read(spark)
            .filter(predicates_to_column(normalize_predicates(preds)))
            .collect(),
        )
    )
    assert got == want


@given(uri=st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_parse_driver_uri_total(uri):
    """The URI parser is TOTAL over arbitrary text: every input either
    parses into a ParsedUri whose invariants hold or raises the typed
    BadUriException — never a stray ValueError/IndexError from inside
    urllib, and resolution by scheme never raises anything outside
    the driver-resolution family."""
    from a2b_spark.core.drivers import (
        BadUriException,
        DriverResolutionError,
        _OPAQUE_SCHEMES,
        parse_driver_uri,
        resolve_source,
    )

    try:
        p = parse_driver_uri(uri)
    except BadUriException:
        return
    assert p.scheme and p.scheme == p.scheme.lower()
    assert uri.startswith(uri[: len(p.scheme)])  # scheme is a prefix
    if p.scheme in _OPAQUE_SCHEMES:
        assert p.opaque == uri[len(p.scheme) + 1:]
    else:
        assert p.path
    try:
        resolve_source(uri)
    except DriverResolutionError:
        pass  # NoDriverForScheme / BadUri (yaml dir missing, etc.)
