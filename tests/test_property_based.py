"""Property-based tests (hypothesis) for the invariants that matter at
scale: typed-conversion round trips, dense-ID order parity, CC
equivalence-closure correctness, SimHash block-index losslessness.

The reference has no property-based layer (SURVEY.md §5); these guard
OUR custom code paths — exactly the ones Catalyst can't check for us.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=8,  # each example runs Spark jobs — keep the budget sane
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=40
    )
)
def test_int_conversion_round_trip(spark, vals):
    """P1: any in-range int survives string→typed conversion exactly."""
    from batch_import_spark.schema import convert_column

    df = spark.createDataFrame([(str(v),) for v in vals], "c string")
    got = [r["x"] for r in df.select(convert_column(F.col("c"), "int").alias("x")).collect()]
    assert sorted(got) == sorted(vals)


@settings(**_SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=200, unique=True
    ),
    parts=st.integers(min_value=1, max_value=7),
)
def test_dense_id_is_rank(spark, keys, parts):
    """A2/O4: dense IDs equal the 0-based rank of the order key, at any
    partition count (the reference-parity invariant)."""
    from batch_import_spark.operators.ids import with_dense_id

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    conf = {"spark.sql.shuffle.partitions": str(parts),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = with_dense_id(df, ["k"], id_col="nid").collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    expected = {k: i for i, k in enumerate(sorted(keys))}
    assert {r["k"]: r["nid"] for r in out} == expected


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_vs_union_find(spark, edges):
    """Canonicalization CC == driver union-find on any small graph."""
    from batch_import_spark.operators.canonicalize import connected_components

    e = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "u long, v long"
    ).where(F.col("u") != F.col("v"))
    if e.count() == 0:
        return
    got = {
        (r["node_id"], r["component_id"]) for r in connected_components(e).collect()
    }
    # reference union-find
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for u, v in edges:
        if u == v:
            continue
        nodes.update((u, v))
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    comp_min: dict = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {(n, comp_min[find(n)]) for n in nodes}
    assert got == expected


@settings(**_SETTINGS)
@given(
    sigs=st.lists(
        st.integers(min_value=0, max_value=2**60 - 1), min_size=2, max_size=12, unique=True
    ),
    k=st.integers(min_value=0, max_value=8),
)
def test_simhash_block_index_lossless(spark, sigs, k):
    """Pigeonhole candidate generation finds EVERY pair within hamming k
    — tested directly on arbitrary signatures via the same block split."""
    from batch_import_spark.operators.dedup import SIMHASH_BITS

    n_blocks = k + 1
    base, rem = divmod(SIMHASH_BITS, n_blocks)
    starts, s = [], 0
    for i in range(n_blocks):
        size = base + (1 if i < rem else 0)
        starts.append((s, size))
        s += size

    def blocks(sig):
        return [(i, (sig >> st_) & ((1 << sz) - 1)) for i, (st_, sz) in enumerate(starts)]

    for i, a in enumerate(sigs):
        for b in sigs[i + 1:]:
            if bin(a ^ b).count("1") <= k:
                assert set(blocks(a)) & set(blocks(b)), (a, b, k)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abcdef \n", min_size=0, max_size=60),
        min_size=1,
        max_size=12,
    ),
    chunk_len=st.integers(min_value=2, max_value=12),
    overlap=st.integers(min_value=0, max_value=6),
)
def test_chunking_reconstruction_invariant(spark, texts, chunk_len, overlap):
    """Chunks at stride offsets cover the document exactly: dropping
    each chunk's trailing `overlap` chars (except the last chunk's)
    and concatenating in chunk_idx order reconstructs the text."""
    from batch_import_spark.operators.packing import chunk_documents

    if overlap >= chunk_len:
        overlap = chunk_len - 1
    stride = chunk_len - overlap
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = chunk_documents(df, chunk_len=chunk_len, overlap=overlap).collect()
    by_doc: dict[int, dict[int, str]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    for doc_id, text in enumerate(texts):
        chunks = by_doc.get(doc_id, {})
        if not text:
            assert chunks == {}
            continue
        assert set(chunks) == set(range(len(chunks)))
        rebuilt = "".join(
            chunks[i][:stride] for i in range(len(chunks) - 1)
        ) + chunks[len(chunks) - 1]
        assert rebuilt == text


@settings(**_SETTINGS)
@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=5),
        min_size=1,
        max_size=15,
        unique=True,
    )
)
def test_fuzzy_join_equals_brute_force(spark, names):
    """Deletion-neighborhood candidates + levenshtein verify must equal
    the quadratic ground truth on arbitrary short strings."""
    from batch_import_spark.operators.fuzzy import fuzzy_join_ed1

    def lev(a, b):
        la, lb = len(a), len(b)
        dp = list(range(lb + 1))
        for i in range(1, la + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, lb + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[lb]

    rows = list(enumerate(names))
    df = spark.createDataFrame(rows, "nid long, name string")
    got = {
        (r["nid_l"], r["nid_r"])
        for r in fuzzy_join_ed1(df, df, "name", "name", "nid", "nid").collect()
    }
    want = {
        (i, j) for i, a in rows for j, b in rows if i < j and lev(a, b) <= 1
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
    capacity=st.integers(min_value=1, max_value=50),
)
def test_packing_capacity_invariant(spark, sizes, capacity):
    """No pack exceeds capacity unless it is a single oversize item,
    and every input row lands in exactly one pack."""
    from batch_import_spark.operators.packing import pack_sequences

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "n", ["doc_id"], capacity=capacity, n_groups=3).collect()
    assert sorted(r["doc_id"] for r in out) == [i for i, _ in rows]
    fills: dict[tuple, list] = {}
    for r in out:
        fills.setdefault((r["group_id"], r["pack_id"]), []).append(r["size"])
    for members in fills.values():
        assert sum(members) <= capacity or len(members) == 1


@settings(**_SETTINGS)
@given(
    gaps=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=25),
    gap_limit=st.integers(min_value=1, max_value=3000),
)
def test_sessionize_equals_sequential_replay(spark, gaps, gap_limit):
    """Batch gap-sessionization must equal the obvious sequential
    scan for any gap sequence and threshold."""
    import datetime

    from batch_import_spark.operators.conversations import sessionize

    base = datetime.datetime(2025, 1, 1)
    ts, t = [], 0
    for g in gaps:
        t += g
        ts.append(t)
    rows = [
        ("c", i, base + datetime.timedelta(seconds=s)) for i, s in enumerate(ts)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = {
        (r["session_idx"]): (r["n_turns"], r["start_sec"], r["end_sec"])
        for r in sessionize(df, gap_seconds=gap_limit).collect()
    }
    # sequential replay
    base_sec = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    sessions, cur = [], [ts[0]]
    for prev, nxt in zip(ts, ts[1:]):
        if nxt - prev > gap_limit:
            sessions.append(cur)
            cur = []
        cur.append(nxt)
    sessions.append(cur)
    want = {
        i: (len(s), base_sec + s[0], base_sec + s[-1])
        for i, s in enumerate(sessions)
    }
    assert got == want
