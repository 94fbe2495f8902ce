"""Property-based differential tests (hypothesis): the engine against a
pure-Python golden model of the reference's semantics, under randomized
data AND randomized partitioning — the generalized form of the
reference's chunk-size-invariance test (tests/test_transformer.py:383-396).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from laygo_python_spark import Pipeline, Transformer

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ints = st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60)


@given(data=ints, parts=st.integers(min_value=1, max_value=7))
@SET
def test_map_filter_pipeline_matches_python_model(spark, data, parts):
    """engine(filter even → ×3 → >k → +1) == the same plain-Python fold."""
    df = spark.createDataFrame([(v,) for v in data], ["value"]).repartition(parts)
    t = (
        Transformer()
        .filter(F.col("value") % 2 == 0)
        .map(value=F.col("value") * 3)
        .filter(F.col("value") > 10)
        .map(value=F.col("value") + 1)
    )
    got = sorted(r[0] for r in t(df).collect())
    # NB: Python's % differs from Spark's pmod-free % on negatives only in
    # sign of the result; both call -4 % 2 == 0, so evenness agrees.
    expected = sorted(x * 3 + 1 for x in data if x % 2 == 0 and x * 3 > 10)
    assert got == expected


@given(data=ints, parts=st.integers(min_value=1, max_value=7))
@SET
def test_agg_matches_python_model(spark, data, parts):
    df = spark.createDataFrame([(v,) for v in data], ["value"]).repartition(parts)
    row = Transformer().agg(
        F.sum("value").alias("s"), F.min("value").alias("mn"), F.max("value").alias("mx"), F.count(F.lit(1)).alias("n")
    )(df).collect()[0]
    assert (row.s, row.mn, row.mx, row.n) == (sum(data), min(data), max(data), len(data))


@given(data=st.lists(st.lists(st.integers(0, 50), max_size=4), min_size=1, max_size=20))
@SET
def test_flatten_matches_python_model(spark, data):
    df = spark.createDataFrame([(xs,) for xs in data], "value: array<bigint>")
    got = sorted(r[0] for r in Transformer().flatten("value")(df).collect())
    assert got == sorted(x for xs in data for x in xs)


@given(data=ints, parts=st.integers(min_value=1, max_value=5))
@SET
def test_partitioning_never_changes_results(spark, data, parts):
    """The core algebraic property inherited from the reference: the
    partitioning (chunking) of the data must be unobservable."""
    df1 = spark.createDataFrame([(v,) for v in data], ["value"]).repartition(1)
    dfn = spark.createDataFrame([(v,) for v in data], ["value"]).repartition(parts)
    t = Transformer().map_batches(lambda pdf: pdf.assign(value=pdf.value * 2 + 1)).filter("value > 0")
    assert sorted(r[0] for r in t(df1).collect()) == sorted(r[0] for r in t(dfn).collect())


@given(data=st.lists(st.integers(1, 100), min_size=1, max_size=40), n=st.integers(1, 10))
@SET
def test_first_n_returns_n_rows(spark, data, n):
    result, _ = Pipeline(data, spark=spark).first(n)
    assert len(result) == min(n, len(data))
    assert set(result) <= set(data)


@given(
    probes=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000)), min_size=1, max_size=25),
    refs=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000), st.floats(-100, 100)), min_size=1, max_size=25),
)
@SET
def test_asof_join_matches_pandas_merge_asof(spark, probes, refs):
    """Differential: our union+window as-of join vs pandas merge_asof
    (backward, exact matches allowed) on random keyed event times."""
    import pandas as pd
    from datetime import datetime, timedelta

    from laygo_python_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    probe_rows = [(i, k, base + timedelta(seconds=t)) for i, (k, t) in enumerate(probes)]
    # dedupe ref (k, t) pairs: equal-timestamp refs within a key are
    # ambiguous in both engines (documented limitation)
    seen, ref_rows = set(), []
    for k, t, v in refs:
        if (k, t) not in seen:
            seen.add((k, t))
            ref_rows.append((k, base + timedelta(seconds=t), float(v)))
    left = spark.createDataFrame(probe_rows, "pid long, k long, t timestamp")
    right = spark.createDataFrame(ref_rows, "k long, t timestamp, v double")
    got = {r.pid: r.v_asof for r in asof_join(left, right, on="t", by=["k"], values=["v"]).collect()}

    lp = pd.DataFrame(probe_rows, columns=["pid", "k", "t"]).sort_values("t", kind="stable")
    rp = pd.DataFrame(ref_rows, columns=["k", "t", "v"]).sort_values("t", kind="stable")
    merged = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    expected = {int(r.pid): (None if pd.isna(r.v) else float(r.v)) for r in merged.itertuples()}
    assert got == expected


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=1, max_size=20),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=1, max_size=20),
    window=st.integers(1, 600),
)
@SET
def test_interval_join_matches_brute_force(spark, left, right, window):
    """Differential: bucketized interval join vs the O(n·m) definition."""
    from datetime import datetime, timedelta

    from laygo_python_spark.operators.interval import interval_join

    base = datetime(2024, 1, 1)
    lrows = [(i, k, base + timedelta(seconds=t)) for i, (k, t) in enumerate(left)]
    rrows = [(i, k, base + timedelta(seconds=t)) for i, (k, t) in enumerate(right)]
    L = spark.createDataFrame(lrows, "lid long, k long, lt timestamp")
    R = spark.createDataFrame(rrows, "rid long, k long, rt timestamp")
    got = {(r.lid, r.rid) for r in interval_join(L, R, on=["k"], left_ts="lt", right_ts="rt", window_seconds=window).collect()}
    expected = {
        (li, ri)
        for li, lk, lt in lrows
        for ri, rk, rt in rrows
        if lk == rk and abs((lt - rt).total_seconds()) <= window
    }
    assert got == expected


def test_text_hygiene_partition_invariance(spark, sf_dir):
    """repetition_score and decontaminate_ngram_overlap must be
    partitioning-invariant (the reference's chunk-size-invariance
    property, tests/test_transformer.py:383-396, applied to the
    text-hygiene ops): same results under 1 vs 13 input partitions."""
    from laygo_python_spark.queries.text_ops2 import decontaminate_ngram_overlap, repetition_score
    from laygo_python_spark.session import read_table

    for q in (repetition_score, decontaminate_ngram_overlap):
        base = sorted(map(tuple, q(spark, sf_dir).collect()))
        docs13 = read_table(spark, sf_dir, "documents").repartition(13)
        docs13.createOrReplaceTempView("_tp_docs")
        # re-run over a repartitioned clone via a monkeypatched reader
        import laygo_python_spark.queries.text_ops2 as mod

        orig = mod._t
        mod._t = lambda s, d, name: docs13 if name == "documents" else orig(s, d, name)
        try:
            repart = sorted(map(tuple, q(spark, sf_dir).collect()))
        finally:
            mod._t = orig
        assert base == repart and len(base) > 0


# --- warehouse operators vs pure-Python models ------------------------------

changelog = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.sampled_from(["A", "B", "C"]),        # attr
    ),
    min_size=1,
    max_size=40,
)


@given(log=changelog, parts=st.integers(min_value=1, max_value=5))
@SET
def test_scd2_matches_python_model(spark, log, parts):
    """scd2_collapse == a sequential scan collapsing consecutive equal
    values per key, for random logs under random partitioning."""
    from laygo_python_spark.operators.warehouse import scd2_collapse

    rows = [(k, a, i) for i, (k, a) in enumerate(log)]  # ts = arrival order
    df = spark.createDataFrame(rows, "k int, attr string, ts int").repartition(parts)
    got = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_collapse(df, key=["k"], attr="attr", ts="ts").collect()
    )

    expected = []
    by_key: dict[int, list[tuple[str, int]]] = {}
    for k, a, ts in rows:
        by_key.setdefault(k, []).append((a, ts))
    for k, seq in by_key.items():
        seq.sort(key=lambda p: p[1])
        versions = [(a, ts) for i, (a, ts) in enumerate(seq) if i == 0 or seq[i - 1][0] != a]
        for i, (a, ts) in enumerate(versions):
            nxt = versions[i + 1][1] if i + 1 < len(versions) else None
            expected.append((k, a, ts, nxt, nxt is None))
    assert got == sorted(expected)


upserts = st.tuples(
    st.dictionaries(st.integers(0, 9), st.floats(-100, 100, allow_nan=False), max_size=8),
    st.dictionaries(st.integers(0, 9), st.floats(-100, 100, allow_nan=False), max_size=8),
)


@given(data=upserts)
@SET
def test_merge_upsert_paths_agree(spark, data):
    """The broadcast decomposition and the full-outer path must produce
    identical results for any target/changeset pair."""
    from laygo_python_spark.operators.warehouse import merge_upsert
    from laygo_python_spark.session import local_rows_df

    tgt_d, src_d = data
    target = local_rows_df(spark, list(tgt_d.items()), "k int, bal double")
    source = local_rows_df(spark, list(src_d.items()), "k int, delta double")
    results = []
    for bc in (False, True):
        out = merge_upsert(
            target,
            source,
            on=["k"],
            update_set={"bal": target["bal"] + F.coalesce(source["delta"], F.lit(0.0))},
            insert_set={"bal": source["delta"]},
            broadcast_source=bc,
        )
        results.append(sorted((r["k"], round(r["bal"], 6)) for r in out.collect()))
    assert results[0] == results[1]


@given(
    keys=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=80),
    parts=st.integers(min_value=1, max_value=7),
    m_words=st.integers(min_value=1, max_value=8),
)
@SET
def test_bloom_never_false_negative_property(spark, keys, parts, m_words):
    """For ANY key multiset, partitioning, and (even brutally small)
    geometry, every inserted key must pass membership — the invariant
    the prune-then-exact-join pattern rests on."""
    from laygo_python_spark.operators.bloom import bloom_build, bloom_might_contain

    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(parts)
    bloom = bloom_build(df, "k", m=64 * m_words, k=3)
    kept = {r["k"] for r in bloom_might_contain(bloom, df.distinct(), "k").collect()}
    assert kept == set(keys)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=100),
    parts=st.integers(min_value=1, max_value=7),
    k=st.integers(min_value=2, max_value=12),
)
@SET
def test_misra_gries_containment_property(spark, keys, parts, k):
    """For ANY stream, partitioning, and counter budget: every key with
    true frequency > n/(k+1) appears in the merged summary, and every
    estimate obeys true ≥ est ≥ true − n/(k+1)."""
    from collections import Counter

    from laygo_python_spark.operators.heavyhitters import mg_merge, mg_summarize

    df = spark.createDataFrame([(v,) for v in keys], "key long").repartition(parts)
    merged = mg_merge(mg_summarize(df, "key", k=k), "key", k=k)
    est = {r["key"]: r["est"] for r in merged.collect()}
    true = Counter(keys)
    bound = len(keys) / (k + 1)
    for key, cnt in true.items():
        if cnt > bound:
            assert key in est, (key, cnt, bound, est)
    for key, e in est.items():
        assert true[key] >= e >= true[key] - bound, (key, e, true[key], bound)


def test_arrow_batch_size_invariance(spark, sf_dir):
    """The reference asserts identical results for chunk_size 5 vs 50
    (reference tests/test_transformer.py:383-396). The engine's chunk
    unit is the Arrow batch — sweep
    spark.sql.execution.arrow.maxRecordsInBatch over {1, 7, 1000} and
    demand identical results from the map_batches / catch(mode='row') /
    loop_chunks family (the surfaces whose execution granularity IS the
    batch). catch(mode='batch') is deliberately excluded: whole-batch
    drop semantics depend on batch boundaries by design (SURVEY §7.4.2).
    """
    import pandas as pd

    def run_family():
        df = spark.range(0, 500).select((F.col("id") - 250).alias("v"))

        mb = Transformer().map_batches(lambda pdf: pdf.assign(v=pdf["v"] * 2 + 1))
        got_mb = sorted(r.v for r in mb(df).collect())

        def fragile(pdf: pd.DataFrame) -> pd.DataFrame:
            if (pdf["v"] % 97 == 0).any():
                raise ValueError("boom")
            return pdf
        salvage = Transformer().catch(fragile, mode="row")
        got_catch = sorted(r.v for r in salvage(df).collect())

        def body(pdf: pd.DataFrame) -> pd.DataFrame:
            out = pdf.copy()
            mask = out["v"] < 100
            out.loc[mask, "v"] = out.loc[mask, "v"] * 2 + 3
            return out
        lc = Transformer().loop_chunks(body, lambda pdf: bool((pdf["v"] < 100).any()), max_iterations=64)
        got_loop = sorted(r.v for r in lc(df).collect())
        return got_mb, got_catch, got_loop

    results = {}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for n in (1, 7, 1000):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(n))
            results[n] = run_family()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert results[1] == results[7] == results[1000]
    # and the family actually did something: salvage dropped the %97 rows
    assert len(results[7][1]) == 500 - len([v for v in range(-250, 250) if v % 97 == 0])


@given(
    a=st.lists(st.none() | st.integers(-(2**40), 2**40), min_size=1, max_size=40),
    parts=st.integers(min_value=1, max_value=5),
    batch=st.sampled_from([1, 7, 1000]),
    ordered=st.booleans(),
)
@SET
def test_python_stages_see_the_elements_to_list_returns(spark, a, parts, batch, ordered):
    """map_rows, filter_rows and reduce_rows see each record exactly as
    plain Python holds it — None for NULL, int for a long, no order id —
    whatever the partitioning and Arrow batch size, and to_list returns
    it too (map_rows returns each record unchanged and filter_rows keeps
    it). repr tells 5 from 5.0 and None from nan."""
    from laygo_python_spark import Context

    recs = [{"id": i, "a": v} for i, v in enumerate(a)]
    want = {r["id"]: repr(r) for r in recs}
    df = spark.createDataFrame(recs, "id long, a long")
    ctx = Context(spark=spark)
    ctx.counter("wrong")

    def check(r, c):
        if repr(r) != want[r["id"]]:
            c["wrong"] += 1
        return r

    def pipe(build):
        return Pipeline(df, spark=spark, context=ctx, ordered=ordered).transform(
            lambda t: build(t.repartition(parts))
        )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        kept, snap = pipe(
            lambda t: t.map_rows(check).filter_rows(lambda r: repr(r) == want[r["id"]])
        ).to_list()
        folds, _ = pipe(
            lambda t: t.reduce_rows(lambda acc, r: acc + [repr(r)], [], "value array<string>")
        ).to_list()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert snap["wrong"] == 0
    assert sorted(map(repr, kept)) == sorted(want.values())
    assert sorted(x for fold in folds for x in fold) == sorted(want.values())


@given(
    a=st.lists(st.none() | st.integers(-500, 500), min_size=1, max_size=40),
    parts=st.integers(min_value=1, max_value=4),
    batch=st.sampled_from([1, 7, 1000]),
)
@settings(SET, max_examples=8)
def test_fused_python_stages_match_the_same_stages_split(spark, a, parts, batch):
    """A run of Python stages fused into one mapInPandas gives the same
    elements and counter values as the same chain with ``select("*")``
    between every two stages (one mapInPandas per stage): each stage
    sees the types Spark would cast its input to — ints returned into a
    declared double column arrive as floats, floats into a long column
    as ints — whatever the Arrow batch size. catch, tap and
    loop_chunks sub-pipelines ride in the chain, and a trailing
    reduce_rows folds each partition: fused and split folds agree."""
    from laygo_python_spark import Context

    df = spark.createDataFrame([{"id": i, "a": v} for i, v in enumerate(a)], "id long, a long")

    def triple(r):  # ints (or None) into a declared double column
        return {"id": r["id"], "x": None if r["a"] is None else r["a"] * 3}

    def halve(r):  # floats into a declared long column; t records what arrived
        x = r["x"]
        return {"id": r["id"], "y": None if x is None else x // 2, "t": type(x).__name__}

    def seen(r, ctx):
        ctx["seen"] += 1
        return r

    def lift(r):
        y = r["y"]
        return {**r, "y": y + 100 if y is not None and y < 10 else y}

    def keep(r, ctx):
        if r["id"] % 3:
            ctx["kept"] += 1
            return True
        return False

    def run(split: bool):
        cut = (lambda t: t.select("*")) if split else (lambda t: t)
        ctx = Context(spark=spark)
        ctx.counter("seen")
        ctx.counter("kept")
        stages = [
            lambda t: t.map_rows(triple, schema="id long, x double"),
            lambda t: t.tap(Transformer().map_rows(seen)),
            lambda t: t.map_rows(halve, schema="id long, y long, t string"),
            lambda t: t.catch(Transformer().map_rows(lift).filter_rows(lambda r: r["id"] != 5)),
            lambda t: t.loop_chunks(
                Transformer().map_rows(lift),
                lambda pdf: bool((pdf["y"] < 10).any()),
                max_iterations=64,
            ),
            lambda t: t.filter_rows(keep),
            lambda t: t.reduce_rows(lambda acc, r: acc + [repr(r)], [], "value array<string>"),
        ]

        def build(t):
            t = t.repartition(parts)
            for i, stage in enumerate(stages):
                t = stage(cut(t) if i else t)
            return t

        folds, snap = Pipeline(df, spark=spark, context=ctx).transform(build).to_list()
        return sorted(repr(sorted(fold)) for fold in folds), snap, sorted(r for fold in folds for r in fold)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        fused, split = run(False), run(True)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert fused == split
    assert fused[1]["seen"] == len(a)
    assert all("'t': 'float'" in r or "'t': 'NoneType'" in r for r in fused[2])


def test_scalar_null_reaches_a_python_stage_as_none(spark):
    got, _ = (
        Pipeline([1, None, 3], spark=spark)
        .transform(lambda t: t.filter_rows(lambda x: x is None))
        .to_list()
    )
    assert got == [None]


# ---------------------------------------------------------------------------
# r9 sketch / fusion estimator properties


keys = st.lists(
    st.integers(min_value=0, max_value=40), min_size=1, max_size=80
)


@given(ka=keys, kb=keys, parts=st.integers(min_value=1, max_value=5))
@SET
def test_cms_inner_product_one_sided_and_bounded(spark, ka, kb, parts):
    """CMS inner product NEVER undercounts the true frequency inner
    product, and overcounts by at most d collisions' worth of
    (e/w)·Na·Nb — under randomized multisets AND partitioning."""
    from laygo_python_spark.operators.cms import cms_build, cms_inner_product

    a = spark.createDataFrame([(f"k{v}",) for v in ka], "key string").repartition(parts)
    b = spark.createDataFrame([(f"k{v}",) for v in kb], "key string").repartition(parts)
    sa = cms_build(a, "key", d=4, w=2048)
    sb = cms_build(b, "key", d=4, w=2048)
    est = cms_inner_product(sa, sb).collect()[0]["est"]
    from collections import Counter

    ca, cb = Counter(ka), Counter(kb)
    exact = sum(ca[k] * cb[k] for k in ca)
    assert est >= exact
    assert est <= exact + 3 * (len(ka) * len(kb)) // 2048 + 1


@given(
    docs=st.lists(st.integers(min_value=0, max_value=9999), min_size=1, max_size=30, unique=True),
    seed=st.integers(min_value=0, max_value=10_000),
)
@SET
def test_rrf_fuse_is_input_order_invariant(spark, docs, seed):
    """Fused scores/ranks depend only on the (id, rank) SETS, not on row
    order or list order — shuffling both must reproduce the output."""
    import random

    from laygo_python_spark.operators.retrieval import rrf_fuse
    from laygo_python_spark.session import local_rows_df

    r1 = [(d, i + 1) for i, d in enumerate(docs)]
    rng = random.Random(seed)
    docs2 = docs[:]
    rng.shuffle(docs2)
    r2 = [(d, i + 1) for i, d in enumerate(docs2)]

    def fuse(lists):
        frames = [local_rows_df(spark, rows, "doc_id long, rank int") for rows in lists]
        return sorted(
            (r["doc_id"], r["rrf_score"], r["n_lists"], r["rank"])
            for r in rrf_fuse(frames, k=len(docs)).collect()
        )

    shuffled1, shuffled2 = r1[:], r2[:]
    rng.shuffle(shuffled1)
    rng.shuffle(shuffled2)
    assert fuse([r1, r2]) == fuse([shuffled1, shuffled2])  # row order
    assert fuse([r1, r2]) == fuse([r2, r1])  # list order


@given(
    weights=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=60),
    parts=st.integers(min_value=1, max_value=7),
)
@SET
def test_running_total_matches_python_prefix_sum(spark, weights, parts):
    """running_total under randomized weights AND partition counts ==
    the sequential prefix sum (the distributed-prefix-sum soundness
    property: offsets + local cumsums compose to the global order)."""
    from laygo_python_spark.operators.budget import running_total

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w long").repartition(parts)
    got = {
        r["id"]: r["cum_weight"]
        for r in running_total(df, [F.col("id").asc()], "w", num_partitions=parts).collect()
    }
    acc = 0
    for i, w in rows:
        acc += w
        assert got[i] == acc


@given(
    shards=st.lists(
        st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
@SET
def test_moments_merge_matches_direct(spark, shards):
    """Shard-then-merge moments == direct whole-data moments for any
    sharding (the CGL merge identity, exact in reals)."""
    from laygo_python_spark.operators.moments import merge_moments, shard_moments

    rows = [(si, float(x)) for si, xs in enumerate(shards) for x in xs]
    df = spark.createDataFrame(rows, "shard int, x double")
    got = merge_moments(shard_moments(df, "x", "shard")).collect()[0]
    xs = [x for _, x in rows]
    n = len(xs)
    mean = sum(xs) / n
    var = sum((x - mean) ** 2 for x in xs) / n
    assert got["n_rows"] == n
    assert abs(got["mean"] - mean) < 1e-9 + 1e-9 * abs(mean)
    assert abs(got["var_pop"] - var) < 1e-7 + 1e-7 * abs(var)


record_values = st.one_of(
    st.none(), st.booleans(), st.integers(-(10**6), 10**6), st.floats(allow_nan=False), st.text(max_size=4)
)


@given(rows=st.lists(st.dictionaries(st.sampled_from("abcd"), record_values, max_size=4), min_size=1, max_size=40))
@settings(SET, max_examples=100)
def test_record_schema_inferred_from_distinct_signatures(spark, rows):
    """``local_rows_df(schema=None)`` infers from one record per distinct
    (key, value type) signature: for ragged records that is the same
    StructType, field order included, as inferring from every record, or
    the same error."""
    from pyspark.errors import PySparkException
    from pyspark.sql import Row

    from laygo_python_spark.session import _distinct_signatures

    def infer(records):
        try:
            return spark._inferSchemaFromList([Row(**r) for r in records])
        except PySparkException as e:
            return type(e), e.getCondition()

    assert infer(_distinct_signatures(rows)) == infer(rows)
