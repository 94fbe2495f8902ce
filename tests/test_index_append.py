"""Stored-index APPEND — the differential contract (reference
performance_test.py:516-539's append-then-match ≡ rebuild-then-match
idiom applied to index STATE): after ``*_index_append`` of day-2 onto a
day-1 index, the stored artifact's logical tables equal a full rebuild
over day-1 ∪ day-2, including the bucket cap re-applied on touched
buckets only — so every downstream match is automatically identical
too. Without the append path a production pipeline re-shingles the full
seen corpus each snapshot (the cost the index exists to avoid)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from laygo_python_spark import artifact
from laygo_python_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _boiler(n, start=0, salt=""):
    # n docs sharing one boilerplate text → one signature group (floods
    # a band bucket without creating n² pairs).
    return [(start + i, f"the same boilerplate legal footer text appears here {salt}") for i in range(n)]


def _uniq(n, start=0):
    return [
        (start + i, f"unique document number {start + i} with distinctive words alpha{start + i} beta{start + i} gamma{start + i}")
        for i in range(n)
    ]


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _assert_minhash_index_equal(appended, rebuilt):
    assert _sorted_rows(appended["membership"]) == _sorted_rows(rebuilt["membership"])
    # read-path reps are min-grouped; the in-memory build's already are
    assert _sorted_rows(appended["reps"]) == _sorted_rows(rebuilt["reps"])
    assert _sorted_rows(appended["bands"]) == _sorted_rows(rebuilt["bands"])
    assert _sorted_rows(appended["dropped"]) == _sorted_rows(rebuilt["dropped"])


def test_minhash_append_equals_rebuild(spark, tmp_path):
    day1 = _docs(spark, _uniq(30) + _boiler(5, start=100))
    day2 = _docs(spark, _uniq(30, start=200) + _boiler(5, start=300) + _uniq(3, start=400))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(day1, num_hashes=16, bands=4), path)
    stats = dedup.minhash_index_append(spark, path, day2)
    assert stats["applied"] and stats["membership"] == 38
    rebuilt = dedup.minhash_index(day1.unionByName(day2), num_hashes=16, bands=4)
    _assert_minhash_index_equal(dedup.minhash_index_read(spark, path), rebuilt)
    # A params row labelled with another hash family (an index from an
    # older release): append and opening it for a match both refuse.
    row = artifact.read_params(spark, path, "minhash")
    artifact.write_params(spark, path, "minhash", {**row, "hash_fn": "crc32"})
    with pytest.raises(ValueError, match="rebuild"):
        dedup.minhash_index_append(spark, path, day2)
    with pytest.raises(ValueError, match="rebuild"):
        dedup.minhash_match_incremental(day2, dedup.minhash_index_read(spark, path))


def test_minhash_append_cap_crossing_on_touched_bucket(spark, tmp_path):
    """A bucket under the cap on day 1 that crosses it via day-2 traffic
    must drop — new rows withheld AND the day-1 rows retired at read
    time — exactly as a rebuild over the union would decide."""
    # max_bucket=3: day1 puts 3 distinct near-identical-but-distinct sigs
    # in shared buckets is hard to arrange exactly; instead use distinct
    # boilerplate VARIANTS which still share no bucket, so drive the cap
    # with the all-bands case: identical docs share ALL buckets but
    # count once (distinct sigs). Use 3 distinct singleton docs day-1 +
    # 2 more day-2 — with bands=1, every sig lands in one bucket only if
    # the band key collides, which it won't. So instead verify via the
    # rebuild differential at a tiny cap: whatever the cap decides, the
    # append path must agree with the rebuild.
    day1 = _docs(spark, _uniq(12))
    day2 = _docs(spark, _uniq(12, start=50))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(
        dedup.minhash_index(day1, num_hashes=8, bands=8, shingle_n=1, max_bucket=2), path
    )
    dedup.minhash_index_append(spark, path, day2)
    rebuilt = dedup.minhash_index(
        day1.unionByName(day2), num_hashes=8, bands=8, shingle_n=1, max_bucket=2
    )
    stored = dedup.minhash_index_read(spark, path)
    # the tiny cap must actually have dropped something, or this test
    # proves nothing
    assert rebuilt["dropped"].count() > 0
    _assert_minhash_index_equal(stored, rebuilt)
    # and the downstream match over the stored index equals the
    # rebuild's match
    probe = _docs(spark, _uniq(6, start=3))  # overlaps day1 ids 3..8 texts
    got = dedup.minhash_match_incremental(probe, stored)
    want = dedup.minhash_match_incremental(probe, rebuilt)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_minhash_append_batch_id_replay_is_noop(spark, tmp_path):
    day1 = _docs(spark, _uniq(10))
    day2 = _docs(spark, _uniq(10, start=20))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(day1, num_hashes=8, bands=4), path)
    s1 = dedup.minhash_index_append(spark, path, day2, batch_id=7)
    before = _sorted_rows(dedup.minhash_index_read(spark, path)["membership"])
    s2 = dedup.minhash_index_append(spark, path, day2, batch_id=7)
    assert s1["applied"] is True and s2["applied"] is False
    after = _sorted_rows(dedup.minhash_index_read(spark, path)["membership"])
    assert before == after


def test_minhash_append_per_batch_cost_reads_only_batch(spark, tmp_path):
    """The whole point: appending must not re-shingle the seen corpus.
    The signature pass reads new_docs only — assert by appending a batch
    whose plan cannot touch day-1 text (day-1 frame is unpersisted and
    its source dropped)."""
    day1 = _docs(spark, _uniq(50))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(day1, num_hashes=8, bands=4), path)
    # day1 frame garbage: if append referenced it, this would fail
    del day1
    day2 = _docs(spark, _uniq(5, start=500))
    stats = dedup.minhash_index_append(spark, path, day2)
    assert stats["membership"] == 5


def _assert_simhash_index_equal(appended, rebuilt):
    assert _sorted_rows(appended["fingerprints"]) == _sorted_rows(rebuilt["fingerprints"])
    assert _sorted_rows(appended["reps"]) == _sorted_rows(rebuilt["reps"])
    assert _sorted_rows(appended["chunks"]) == _sorted_rows(rebuilt["chunks"])
    assert _sorted_rows(appended["dropped"]) == _sorted_rows(rebuilt["dropped"])


def test_simhash_append_equals_rebuild(spark, tmp_path):
    day1 = _docs(spark, _uniq(30) + _boiler(5, start=100))
    day2 = _docs(spark, _uniq(30, start=200) + _boiler(5, start=300))
    path = str(tmp_path / "sidx")
    dedup.simhash_index_write(dedup.simhash_index(day1), path)
    stats = dedup.simhash_index_append(spark, path, day2)
    assert stats["applied"] and stats["fingerprints"] == 35
    rebuilt = dedup.simhash_index(day1.unionByName(day2))
    _assert_simhash_index_equal(dedup.simhash_index_read(spark, path), rebuilt)


def test_simhash_append_cap_and_match_equal_rebuild(spark, tmp_path):
    day1 = _docs(spark, _uniq(12))
    day2 = _docs(spark, _uniq(12, start=50))
    path = str(tmp_path / "sidx")
    dedup.simhash_index_write(dedup.simhash_index(day1, max_bucket=1), path)
    dedup.simhash_index_append(spark, path, day2)
    rebuilt = dedup.simhash_index(day1.unionByName(day2), max_bucket=1)
    stored = dedup.simhash_index_read(spark, path)
    assert rebuilt["dropped"].count() > 0
    _assert_simhash_index_equal(stored, rebuilt)
    probe = _docs(spark, _uniq(6, start=3))
    got = dedup.simhash_match_incremental(probe, stored)
    want = dedup.simhash_match_incremental(probe, rebuilt)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_simhash_append_batch_id_replay_is_noop(spark, tmp_path):
    day1 = _docs(spark, _uniq(10))
    day2 = _docs(spark, _uniq(10, start=20))
    path = str(tmp_path / "sidx")
    dedup.simhash_index_write(dedup.simhash_index(day1), path)
    s1 = dedup.simhash_index_append(spark, path, day2, batch_id=3)
    s2 = dedup.simhash_index_append(spark, path, day2, batch_id=3)
    assert s1["applied"] is True and s2["applied"] is False
    assert dedup.simhash_index_read(spark, path)["fingerprints"].count() == 20


def test_simhash_append_caps_bucket_of_artifact_without_max_bucket(spark, tmp_path):
    """An artifact written before ``max_bucket`` existed has a params
    table without that column; it reads as NULL and must mean the
    default cap (2000). 2000 stored fingerprints share one chunk bucket;
    one appended doc landing in it must drop the bucket."""
    from laygo_python_spark.session import local_rows_df

    path = str(tmp_path / "idx")
    doc = _docs(spark, [(9000, "one new document lands in the crowded chunk bucket")])
    sh = dedup.simhash_fingerprints(doc, "doc_id", "text").first()["sh"]
    chunk_bits = 60 // 4
    low = sh & ((1 << chunk_bits) - 1)
    assert not 1 <= sh >> chunk_bits <= 2000  # the doc's fingerprint is new
    fps = spark.range(1, 2001).select(
        F.col("id").alias("doc_id"), (F.col("id") * (1 << chunk_bits) + F.lit(low)).alias("sh")
    )
    fps.write.parquet(f"{path}/fingerprints")
    fps.select("sh", F.col("doc_id").alias("rep")).write.parquet(f"{path}/reps")
    fps.select("sh", F.lit(0).alias("chunk_idx"), F.lit(low).alias("chunk_val")).write.parquet(
        f"{path}/chunks"
    )
    local_rows_df(spark, [(3, 60, "md5")], "max_hamming int, bits int, hash_fn string").write.parquet(
        f"{path}/params"
    )
    assert dedup.simhash_index_append(spark, path, doc, stats=False)["applied"]
    idx = dedup.simhash_index_read(spark, path)
    assert idx["params"]["max_bucket"] == 2000
    assert _sorted_rows(idx["dropped"]) == [(0, low)]


def test_minhash_pre_dropped_bucket_stays_dropped(spark, tmp_path):
    """A bucket capped at BUILD time must stay dropped when later
    batches land in it — populations only grow. Engineered via identical
    boilerplate groups with distinct salts... identical docs share one
    sig (counts once); to overfill a bucket we need many DISTINCT sigs
    sharing a band key, which honest text rarely does at small n. So
    pin the semantics structurally: after appending a batch that lands
    in a dropped bucket, the read-time bands table must contain no rows
    for any dropped key."""
    day1 = _docs(spark, _uniq(20))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(
        dedup.minhash_index(day1, num_hashes=4, bands=4, shingle_n=1, max_bucket=1), path
    )
    dedup.minhash_index_append(spark, path, _docs(spark, _uniq(20, start=100)))
    stored = dedup.minhash_index_read(spark, path)
    overlap = stored["bands"].join(stored["dropped"], "band_key", "left_semi")
    assert overlap.count() == 0
    rebuilt = dedup.minhash_index(
        day1.unionByName(_docs(spark, _uniq(20, start=100))),
        num_hashes=4,
        bands=4,
        shingle_n=1,
        max_bucket=1,
    )
    assert rebuilt["dropped"].count() > 0
    _assert_minhash_index_equal(stored, rebuilt)


def test_stream_ingest_appends_accepted(spark, tmp_path):
    """Verdict r4 ask #2: after N micro-batches through
    ``incremental_dedup_processor``, the stored index must equal a
    batch-built index over seen ∪ all accepted docs — the index GROWS
    with the stream. Batches are constructed so acceptance is
    order-independent (each batch's dups duplicate SEEN texts; accepted
    docs are unique and match nothing), making the rebuild target
    well-defined regardless of file-listing order."""
    from laygo_python_spark.streaming import incremental_dedup_processor

    seen_rows = _uniq(20)
    seen = _docs(spark, seen_rows)
    idx_dir = str(tmp_path / "idx")
    dedup.minhash_index_write(
        dedup.minhash_index(seen, num_hashes=16, bands=4), idx_dir
    )

    # three stream files: each has 4 unique (accepted) docs + 1 dup of a
    # seen text (rejected via same-signature match)
    batches = [
        _uniq(4, start=100 * (b + 1)) + [(9000 + b, seen_rows[b][1])] for b in range(3)
    ]
    # the file stream lists FLAT files — stage each batch's single part
    # file and copy it in as incoming/batch_<b>.parquet
    import shutil

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    for b, rows in enumerate(batches):
        stage = tmp_path / f"stage_{b}"
        _docs(spark, rows).coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, in_dir / f"batch_{b}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir))
    )
    out_dir = str(tmp_path / "matches")
    process = incremental_dedup_processor(spark, idx_dir, out_dir)
    q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()

    # every dup matched its seen twin; every unique doc was accepted
    matches = spark.read.parquet(out_dir)
    assert sorted(r["doc_id_new"] for r in matches.select("doc_id_new").distinct().collect()) == [
        9000,
        9001,
        9002,
    ]
    accepted_rows = [r for rows in batches for r in rows if r[0] < 9000]
    rebuilt = dedup.minhash_index(
        seen.unionByName(_docs(spark, accepted_rows)), num_hashes=16, bands=4
    )
    _assert_minhash_index_equal(dedup.minhash_index_read(spark, idx_dir), rebuilt)


def _parquet_files(path):
    import pathlib

    return [p for p in pathlib.Path(path).rglob("*.parquet") if p.name.startswith("part-")]


def test_minhash_compact_is_invisible_to_matching(spark, tmp_path):
    """OPTIMIZE-style maintenance: compaction materializes the read-time
    derivation (reps min-reduced, retired band rows removed, files
    coalesced) without changing ANY logical table — match output before
    and after must be identical, and the physical artifact must
    actually shrink (fewer reps rows than the appended raw layout)."""
    # day1 small enough that shared-token buckets stay under the cap;
    # day2 floods them PAST it — so drops happen at APPEND time and the
    # day-1 band rows are physically present but logically retired
    # (probed: 3 build-time drops + 5 append-time drops, 8 retired rows)
    day1 = _docs(spark, _uniq(3))
    day2 = _docs(spark, _uniq(12, start=200))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(
        dedup.minhash_index(day1, num_hashes=8, bands=8, shingle_n=1, max_bucket=2), path
    )
    dedup.minhash_index_append(spark, path, day2, batch_id=1)
    raw_rep_rows = spark.read.parquet(f"{path}/reps").count()
    raw_band_rows = spark.read.parquet(f"{path}/bands").count()
    # pin BEFORE compaction overwrites the files these lazy scans point at
    before = {
        k: v.localCheckpoint(eager=True) if hasattr(v, "localCheckpoint") else v
        for k, v in dedup.minhash_index_read(spark, path).items()
    }
    probe = _docs(spark, _uniq(6, start=1))
    want = _sorted_rows(dedup.minhash_match_incremental(probe, before))
    assert before["dropped"].count() > 0  # retired rows exist to remove
    assert raw_band_rows > before["bands"].count()  # ...physically present

    stats = dedup.minhash_index_compact(spark, path)
    after = dedup.minhash_index_read(spark, path)
    _assert_minhash_index_equal(after, before)
    assert _sorted_rows(dedup.minhash_match_incremental(probe, after)) == want
    # physical == logical now: every retired band row removed, retained
    # reps min-reduced; the dropped list survives for future appends
    assert spark.read.parquet(f"{path}/bands").count() == after["bands"].count() < raw_band_rows
    assert spark.read.parquet(f"{path}/reps").count() <= raw_rep_rows
    assert stats["bands"] == after["bands"].count()
    assert spark.read.parquet(f"{path}/dropped").count() > 0
    # and a later append still works against the compacted artifact
    dedup.minhash_index_append(spark, path, _docs(spark, _uniq(5, start=500)), batch_id=2)
    rebuilt = dedup.minhash_index(
        day1.unionByName(day2).unionByName(_docs(spark, _uniq(5, start=500))),
        num_hashes=8,
        bands=8,
        shingle_n=1,
        max_bucket=2,
    )
    _assert_minhash_index_equal(dedup.minhash_index_read(spark, path), rebuilt)


def test_simhash_compact_is_invisible_to_matching(spark, tmp_path):
    day1 = _docs(spark, _uniq(12))
    day2 = _docs(spark, _uniq(12, start=50))
    path = str(tmp_path / "sidx")
    dedup.simhash_index_write(dedup.simhash_index(day1, max_bucket=1), path)
    dedup.simhash_index_append(spark, path, day2, batch_id=1)
    before = {
        k: v.localCheckpoint(eager=True) if hasattr(v, "localCheckpoint") else v
        for k, v in dedup.simhash_index_read(spark, path).items()
    }
    raw_chunk_rows = spark.read.parquet(f"{path}/chunks").count()
    probe = _docs(spark, _uniq(6, start=3))
    want = _sorted_rows(dedup.simhash_match_incremental(probe, before))
    assert before["dropped"].count() > 0

    dedup.simhash_index_compact(spark, path)
    after = dedup.simhash_index_read(spark, path)
    _assert_simhash_index_equal(after, before)
    assert _sorted_rows(dedup.simhash_match_incremental(probe, after)) == want
    assert spark.read.parquet(f"{path}/chunks").count() < raw_chunk_rows
    # replay markers survive compaction: batch 1 re-delivery is a no-op
    assert dedup.simhash_index_append(spark, path, day2, batch_id=1)["applied"] is False


def test_srp_index_add_equals_rebuild(spark, sf_dir, tmp_path):
    """SRP growth: building on half the corpus then srp_index_add-ing
    the rest must search identically to an index built on the union —
    the planes are seed-derived and fixed, so add == rebuild exactly."""
    from laygo_python_spark.operators.similarity import (
        srp_index_add,
        srp_index_write,
        srp_search_indexed,
    )
    from laygo_python_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    grown, rebuilt = str(tmp_path / "grown"), str(tmp_path / "rebuilt")
    srp_index_write(emb.filter("vec_id % 2 = 0"), grown, n_planes=4, n_tables=8)
    srp_index_add(spark, grown, emb.filter("vec_id % 2 = 1"))
    srp_index_write(emb, rebuilt, n_planes=4, n_tables=8)
    queries = emb.filter("vec_id < 10")
    got = _sorted_rows(srp_search_indexed(spark, grown, queries, k=10))
    want = _sorted_rows(srp_search_indexed(spark, rebuilt, queries, k=10))
    assert got == want and got


def _minhash_compact_case(spark, path):
    day1 = _docs(spark, _uniq(20))
    dedup.minhash_index_write(dedup.minhash_index(day1, num_hashes=8, bands=4), path)
    return (
        "membership",
        lambda: dedup.minhash_index_compact(spark, path),
        lambda: _sorted_rows(dedup.minhash_index_read(spark, path)["membership"]),
    )


def _vectors(spark):
    import numpy as np

    from laygo_python_spark.session import local_rows_df

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    return local_rows_df(spark, rows, "vec_id long, embedding array<double>"), rng


def _pq_compact_case(spark, path):
    from laygo_python_spark.operators import pq

    pq.pq_index_write(_vectors(spark)[0], path, m=2, ksub=4)
    return (
        "codes",
        lambda: pq.pq_index_compact(spark, path),
        lambda: _sorted_rows(pq.pq_index_read(spark, path)[0]),
    )


def _ivf_compact_case(spark, path):
    from laygo_python_spark.operators import ivf

    corpus, rng = _vectors(spark)
    ivf.ivf_index_write(corpus, path, centroids=rng.normal(size=(4, 8)))
    return (
        "cells",
        lambda: ivf.ivf_index_compact(spark, path),
        lambda: _sorted_rows(artifact.read(spark, path, "ivf", "cells")),
    )


@pytest.mark.parametrize(
    "case", [_minhash_compact_case, _pq_compact_case, _ivf_compact_case],
    ids=["minhash", "pq", "ivf"],
)
def test_compact_swap_is_crash_safe(spark, tmp_path, case):
    # Compaction rewrites via temp-dir + checked-rename swap: a leftover
    # backup dir from a crashed prior run must ABORT before writing
    # anything (not nest-rename into it), and a clean compaction must
    # leave no temp/backup debris next to the tables. Guards the
    # exactly-once story of the streaming ingest loop that runs
    # compaction inline.
    import os

    path = str(tmp_path / "idx")
    table, compact, rows = case(spark, path)
    os.makedirs(f"{path}/{table}__precompact")
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        compact()
    assert not [d for d in os.listdir(path) if "__compacting" in d]
    os.rmdir(f"{path}/{table}__precompact")
    kept = rows()
    compact()
    leftovers = [d for d in os.listdir(path) if "__compacting" in d or "__precompact" in d]
    assert leftovers == []
    assert rows() == kept


def test_read_or_empty_propagates_real_read_errors(spark, tmp_path):
    # Missing path -> typed empty frame; an EXISTING but unreadable path
    # must raise (a transient/corrupt read that silently read as empty
    # resurrected capped buckets and broke replay idempotency).
    empty = artifact.read_or_empty(spark, str(tmp_path), "minhash", "dropped")
    assert empty.columns == ["band_key"] and empty.count() == 0
    bad = tmp_path / "dropped"
    bad.mkdir()
    (bad / "part-0.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        artifact.read_or_empty(spark, str(tmp_path), "minhash", "dropped").collect()


def test_index_template_cached_and_mutation_isolated(spark, tmp_path, monkeypatch):
    # _index_template builds the stored-index fixture ONCE per (session,
    # table state) and each invocation copies it — appending into the
    # copy must never mutate the template (otherwise a later run would
    # dedup against state a previous run accreted).
    import shutil

    from laygo_python_spark.queries import dedup_ops

    builds = []

    def build(p):
        builds.append(p)
        dedup.minhash_index_write(
            dedup.minhash_index(_docs(spark, _uniq(12)), num_hashes=8, bands=4), p
        )

    monkeypatch.setattr(dedup_ops, "_INDEX_TEMPLATES", {})
    t1 = dedup_ops._index_template(spark, str(tmp_path), "t", build)
    t2 = dedup_ops._index_template(spark, str(tmp_path), "t", build)
    assert t1 == t2 and len(builds) == 1  # second call served from cache
    before = sorted(
        r["sig_key"] for r in spark.read.parquet(f"{t1}/membership").collect()
    )
    copy = str(tmp_path / "copy")
    shutil.copytree(t1, copy)
    dedup.minhash_index_append(spark, copy, _docs(spark, _uniq(5, start=100)), batch_id=9)
    after = sorted(
        r["sig_key"] for r in spark.read.parquet(f"{t1}/membership").collect()
    )
    assert after == before  # template untouched by the copy's append
    grown = spark.read.parquet(f"{copy}/membership").count()
    assert grown == len(before) + 5
    shutil.rmtree(t1, ignore_errors=True)


def test_minhash_append_view_equals_read_after_append(spark, tmp_path):
    """return_view's post-append logical view must equal a fresh
    minhash_index_read AFTER the writes land — across all four tables —
    and background_writes must commit the same state once wait()ed
    (the overlap contract the dedup_index_append query relies on)."""
    day1 = _docs(spark, _uniq(30) + _boiler(5, start=100))
    day2 = _docs(spark, _uniq(30, start=200) + _boiler(5, start=300))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(day1, num_hashes=16, bands=4), path)
    res = dedup.minhash_index_append(
        spark, path, day2, batch_id=7, stats=False,
        return_view=True, background_writes=True,
    )
    assert res["applied"] and "view" in res
    view = res["view"]
    # The view is usable BEFORE wait() — snapshot it now.
    snapshot = {k: _sorted_rows(view[k]) for k in ("membership", "reps", "bands", "dropped")}
    res["wait"]()
    stored = dedup.minhash_index_read(spark, path)
    for k in ("membership", "reps", "bands", "dropped"):
        assert snapshot[k] == _sorted_rows(stored[k]), k
    assert view["params"] == stored["params"]
    # Replay after commit: marker makes it a no-op, and the view handed
    # back is the stored (already-applied) state.
    again = dedup.minhash_index_append(
        spark, path, day2, batch_id=7, stats=False, return_view=True,
    )
    assert not again["applied"]
    assert _sorted_rows(again["view"]["membership"]) == snapshot["membership"]
    again["wait"]()


def test_minhash_append_background_requires_view_and_no_stats(spark, tmp_path):
    day1 = _docs(spark, _uniq(5))
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(day1, num_hashes=16, bands=4), path)
    day2 = _docs(spark, _uniq(5, start=50))
    with pytest.raises(ValueError, match="stats=False"):
        dedup.minhash_index_append(
            spark, path, day2, return_view=True, background_writes=True
        )
    with pytest.raises(ValueError, match="return_view=True"):
        dedup.minhash_index_append(
            spark, path, day2, stats=False, background_writes=True
        )


def _pins(spark) -> set[int]:
    return {int(k) for k in dict(spark.sparkContext._jsc.getPersistentRDDs())}


def test_index_append_and_compact_release_their_pins(spark, tmp_path):
    """The stored-index operators follow the graph loops' rule
    (tests/test_dedup.py): an append without ``return_view`` and a
    compaction release every pin they take once their writes commit,
    whether or not they count the rows."""
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(_docs(spark, _uniq(12)), num_hashes=8, bands=4), path)
    spath = str(tmp_path / "sidx")
    dedup.simhash_index_write(dedup.simhash_index(_docs(spark, _uniq(12))), spath)
    base = _pins(spark)
    day2 = _docs(spark, _uniq(12, start=50) + _boiler(3, start=100))
    assert dedup.minhash_index_append(spark, path, day2, batch_id=1)["membership"] == 15
    dedup.minhash_index_append(spark, path, _docs(spark, _uniq(4, start=200)), batch_id=2, stats=False)
    assert not _pins(spark) - base
    assert dedup.minhash_index_compact(spark, path)["membership"] == 31
    dedup.minhash_index_compact(spark, path, stats=False)
    dedup.simhash_index_compact(spark, spath)
    assert not _pins(spark) - base


def test_index_append_releases_its_pins_when_a_write_fails(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(dedup.minhash_index(_docs(spark, _uniq(12)), num_hashes=8, bands=4), path)
    base = _pins(spark)

    def failing_append(*args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(artifact, "append", failing_append)
    with pytest.raises(RuntimeError, match="injected"):
        dedup.minhash_index_append(spark, path, _docs(spark, _uniq(6, start=50)), batch_id=1)
    assert not _pins(spark) - base


@pytest.mark.parametrize("name, most", [("dedup_index_compact", 1), ("dedup_index_append", 4)])
def test_index_queries_keep_only_the_pins_their_result_reads(spark, sf_dir, name, most):
    """``dedup_index_compact`` keeps only its pinned result. ``dedup_index_append``
    also keeps the append view's three pins (``return_view`` hands them to
    the caller); the ContextCleaner may free those once the view is gone,
    hence at most. Both release their two signature pins."""
    from laygo_python_spark.queries import QUERIES, load_all

    load_all()
    QUERIES[name](spark, sf_dir)  # builds the session's day-1 index template
    base = _pins(spark)
    result = QUERIES[name](spark, sf_dir)
    new = len(_pins(spark) - base)
    assert result.count() >= 0
    assert 1 <= new <= most
