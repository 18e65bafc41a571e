"""Structured Streaming: incremental corpus ingest + windowed event aggs.

Streaming results are verified against the equivalent batch computation
(same plan on the same data) — the batch path doubles as the oracle.
"""

import time

import pytest
from pyspark.sql import functions as F


def _wait(query, timeout=120):
    query.awaitTermination(timeout)


def test_incremental_ingest_equals_batch(spark, corpus_rows, tmp_path):
    import pandas as pd

    from wiki_search_engine_spark.operators.tokenize import (
        tokenize, with_docid,
    )
    from wiki_search_engine_spark.streaming.ingest import (
        ingest_corpus_incremental, stream_corpus,
    )

    src = str(tmp_path / "src")
    delta = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    half = len(corpus_rows) // 2

    # drop 1: first half
    spark.createDataFrame(pd.DataFrame(corpus_rows[:half])).write.mode(
        "overwrite"
    ).parquet(src)
    q = ingest_corpus_incremental(
        stream_corpus(spark, src), delta, ckpt, stem=True
    )
    _wait(q)
    n1 = spark.read.parquet(delta).select("docid").distinct().count()
    assert n1 == half

    # drop 2: second half — availableNow restart processes ONLY new files
    spark.createDataFrame(pd.DataFrame(corpus_rows[half:])).write.mode(
        "append"
    ).parquet(src)
    q = ingest_corpus_incremental(
        stream_corpus(spark, src), delta, ckpt, stem=True
    )
    _wait(q)

    streamed = spark.read.parquet(delta).select(
        "docid", "term", "tf", "doc_len"
    )
    batch = tokenize(
        with_docid(spark.createDataFrame(pd.DataFrame(corpus_rows)), "url"),
        stem=True,
    )
    assert streamed.count() == batch.count()  # exactly-once, no dup tokens
    assert (
        streamed.exceptAll(batch).count() == 0
        and batch.exceptAll(streamed).count() == 0
    )


def test_streaming_window_agg_equals_batch(spark, tmp_path):
    import datetime

    import pandas as pd

    from wiki_search_engine_spark.streaming.ingest import (
        events_windowed_counts,
    )

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (
            i,
            base + datetime.timedelta(seconds=7 * i),
            ["click", "view", "buy"][i % 3],
            float(i % 10),
        )
        for i in range(300)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "event_type", "value"]
    )
    src = str(tmp_path / "events")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    batch = events_windowed_counts(
        spark.read.parquet(src), window="1 minute"
    )
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .parquet(src)
    )
    agg = events_windowed_counts(stream, window="1 minute")
    name = f"ewc_{int(time.time() * 1000)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _wait(q)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert got == expected


def test_streaming_sessions_equal_batch(spark, tmp_path):
    """Session windows: the streaming form (stateful session merge)
    equals the batch form on the same data — bursts separated by
    > gap silences must come out as distinct sessions."""
    import datetime

    import pandas as pd

    from wiki_search_engine_spark.streaming.ingest import (
        events_sessionized,
    )

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    i = 0
    for burst in range(4):  # bursts 20 min apart, events 30s apart
        for j in range(15):
            rows.append(
                (
                    i,
                    base
                    + datetime.timedelta(
                        minutes=20 * burst, seconds=30 * j
                    ),
                    ["click", "view"][i % 2],
                    float(i % 7),
                )
            )
            i += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "event_type", "value"]
    )
    src = str(tmp_path / "events_sess")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    batch = events_sessionized(
        spark.read.parquet(src), gap="5 minutes"
    )
    expected = {
        (r["session_start"], r["event_type"]): (
            r["session_end"], r["n_events"], r["sum_value"],
        )
        for r in batch.collect()
    }
    # 4 bursts x 2 event types, each burst one session per type
    assert len(expected) == 8

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .parquet(src)
    )
    agg = events_sessionized(stream, gap="5 minutes")
    name = f"sess_{int(time.time() * 1000)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _wait(q)
    got = {
        (r["session_start"], r["event_type"]): (
            r["session_end"], r["n_events"], r["sum_value"],
        )
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert got == expected


def test_worker_liveness_stateful(spark, tmp_path):
    """applyInPandasWithState liveness monitor: running totals equal the
    batch oracle across multiple micro-batches, and a worker that stops
    beating is emitted 'dead' once the watermark passes its timeout."""
    import datetime as dt
    import os

    import pandas as pd

    from wiki_search_engine_spark.streaming.heartbeats import (
        worker_liveness, worker_totals_batch,
    )

    t0 = dt.datetime(2025, 10, 1, 12, 0, 0)
    batches = [
        # batch 1: both workers beat
        [("w1", t0, 5), ("w2", t0 + dt.timedelta(seconds=10), 3),
         ("w1", t0 + dt.timedelta(seconds=20), 7)],
        # batch 2: only w1 — w2 goes silent
        [("w1", t0 + dt.timedelta(minutes=5), 11)],
        # batch 3: w1 much later -> watermark passes w2's timeout
        [("w1", t0 + dt.timedelta(minutes=20), 2)],
    ]
    src = str(tmp_path / "hb")
    os.makedirs(src)
    schema = "worker_id string, ts timestamp, pages long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["worker_id", "ts", "pages"])
        ).coalesce(1).write.mode("append").parquet(src)
        # write sequentially so maxFilesPerTrigger sees ordered files
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = worker_liveness(stream, timeout="2 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("liveness")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM liveness").collect()
    assert rows, "no liveness output"

    # final alive totals per worker == batch oracle
    all_hb = spark.createDataFrame(
        pd.DataFrame(
            [r for b in batches for r in b],
            columns=["worker_id", "ts", "pages"],
        )
    )
    oracle = {
        r["worker_id"]: (r["n_beats"], r["total_pages"])
        for r in worker_totals_batch(all_hb).collect()
    }
    last_alive = {}
    for r in rows:
        if r["status"] == "alive":
            last_alive[r["worker_id"]] = (r["n_beats"], r["total_pages"])
    assert last_alive == oracle

    # w2 flagged dead (watermark moved past its last_ts + 2 min)
    dead = [r["worker_id"] for r in rows if r["status"] == "dead"]
    assert "w2" in dead
    # state persisted across micro-batches: w1's totals grew over time
    w1_counts = sorted(
        r["n_beats"] for r in rows if r["worker_id"] == "w1"
        and r["status"] == "alive"
    )
    assert len(w1_counts) >= 2 and w1_counts[0] < w1_counts[-1]


def test_streaming_index_maintenance(spark, tmp_path):
    """Crawler-to-index loop: micro-batches of landed pages fold into
    the live index (delta build + incremental merge + atomic swap);
    after draining, the index equals a from-scratch build over the
    expected final corpus, and the checkpoint prevents reprocessing."""
    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.streaming.ingest import (
        list_snapshots, maintain_index_incremental, read_index_pointer,
        read_snapshot_log,
    )

    kw = dict(stem=True, n_buckets=8, bucket_groups=1, salt_bits=2)
    base_rows = [doc_row(i, SEED) for i in range(40)]
    batch1 = [doc_row(i, 7) for i in range(10, 20)] + [
        doc_row(i, SEED) for i in range(40, 50)
    ]
    batch2 = [doc_row(i, SEED) for i in range(50, 60)]

    idx = str(tmp_path / "live_index")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(base_rows)), idx, **kw
    )

    stream_dir = tmp_path / "landed"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    work = str(tmp_path / "work")

    def land(rows, name):
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / name))

    def drain():
        q = maintain_index_incremental(
            spark, str(stream_dir) + "/*", idx, ckpt, work,
            retain_snapshots=2,
        )
        q.awaitTermination(120)

    land(batch1, "b1")
    drain()
    land(batch2, "b2")
    drain()

    expected_rows = (
        [r for i, r in enumerate(base_rows) if i not in range(10, 20)]
        + batch1 + batch2
    )
    full = str(tmp_path / "full_rebuild")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(expected_rows)), full,
        **kw,
    )
    live, ref = SearchEngine.load(spark, idx), SearchEngine.load(spark, full)
    assert (live.n, round(live.avgdl, 9)) == (ref.n, round(ref.avgdl, 9))
    for q in ("the", base_rows[0]["text"].split()[0],
              batch1[0]["text"].split()[0]):
        try:
            got = live.search_local(q, k=10)
            exp = ref.search_local(q, k=10)
        except Exception:
            continue
        assert got == exp, q

    # retention + time travel: retain_snapshots=2 kept exactly the last
    # two commits (v_init was expired), the log matches what is on
    # disk, and loading the older snapshot by name serves the index AS
    # OF batch 1 (50 docs: 40 base - 10 re-crawled + 10 re-crawls + 10
    # new) while the pointer serves batch 2's 60
    snaps = list_snapshots(idx)
    assert len(snaps) == 2
    assert snaps[-1] == read_index_pointer(idx)
    assert [r["name"] for r in read_snapshot_log(idx)] == snaps
    assert live.n == 60
    old = SearchEngine.load(spark, idx, snapshot=snaps[0])
    assert old.n == 50
    # the travelable snapshot predates batch2's docs entirely
    q2 = batch2[0]["text"].split()[0]
    old_hits = {d for d, _ in old.search_local(q2, k=60)}
    new_docs = {r["url"] for r in batch2}
    assert not {
        r["url"] for r in old.lookup_docs(list(old_hits))
    } & new_docs


def test_streaming_segment_maintenance(spark, tmp_path):
    """Tiered maintenance loop: every micro-batch becomes a segment
    (batch-sized IO), serving through TieredEngine is exact at every
    stage, and crossing compact_after folds the segments into one base
    whose results are unchanged."""
    import os

    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.tiered import (
        TieredEngine, list_segments, maintain_segments_incremental,
    )

    seg_dir = str(tmp_path / "segments")
    stream_dir = tmp_path / "landed"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cfg = dict(n_buckets=8, salt_bits=2, stem=True, analyzer="porter")

    def land(rows, name):
        spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stream_dir / name))

    def drain():
        q = maintain_segments_incremental(
            spark, str(stream_dir) + "/*", seg_dir, ckpt,
            base_config=cfg, compact_after=2,
        )
        q.awaitTermination(180)

    def rebuild(rows, name):
        d = str(tmp_path / name)
        SearchEngine.build(
            spark, spark.createDataFrame(pd.DataFrame(rows)), d,
            stem=True, n_buckets=8, bucket_groups=1, salt_bits=2,
        )
        return SearchEngine.load(spark, d)

    def assert_equal(expected_rows, name):
        ref = rebuild(expected_rows, name)
        tiered = TieredEngine(spark, list_segments(seg_dir))
        assert tiered.n == ref.n
        q = expected_rows[0]["text"].split()[0]
        assert tiered.search_local(q, k=10) == ref.search_local(q, k=10)

    b0 = [doc_row(i, SEED) for i in range(30)]
    b1 = [doc_row(i, 7) for i in range(10, 20)] + [
        doc_row(i, SEED) for i in range(30, 40)
    ]
    b2 = [doc_row(i, SEED) for i in range(40, 50)]

    land(b0, "b0")
    drain()
    assert len(list_segments(seg_dir)) == 1
    assert_equal(b0, "ref0")

    land(b1, "b1")
    drain()
    assert len(list_segments(seg_dir)) == 2
    live1 = [r for i, r in enumerate(b0) if i not in range(10, 20)] + b1
    assert_equal(live1, "ref1")

    land(b2, "b2")
    drain()
    segs = list_segments(seg_dir)
    assert len(segs) == 1 and segs[0].endswith("_compacted"), segs
    assert os.path.isdir(f"{segs[0]}/postings")
    assert_equal(live1 + b2, "ref2")


def test_streamed_segments_carry_spell_layout(spark, tmp_path):
    """When the oldest segment has the spell layout, every micro-batch
    segment (and the base a fold compacts) gets one at the same
    max_dist, so corrections over the maintained segment list answer
    and equal the compacted index's, before and after the fold."""
    import datetime
    import json
    import os

    import pandas as pd

    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.tiered import (
        TieredEngine, compact, list_segments, maintain_segments_incremental,
    )

    words = ["river", "rover", "stone", "field", "cloud", "tower"]
    seg_dir = str(tmp_path / "segments")
    stream_dir = tmp_path / "landed"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cfg = dict(n_buckets=8, salt_bits=2, stem=True, analyzer="porter")

    def land(ids, name):
        rows = [{
            "url": f"https://example.org/wiki/Doc_{i}",
            "warc_ts": datetime.datetime(2024, 1, 1, 0, 0, i % 60),
            "html": b"",
            "text": " ".join(words[(i * j) % 6] for j in range(1, 5)),
            "lang": "en",
        } for i in ids]
        spark.createDataFrame(
            pd.DataFrame(rows),
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        ).coalesce(1).write.parquet(str(stream_dir / name))
        maintain_segments_incremental(
            spark, str(stream_dir) + "/*", seg_dir, ckpt,
            base_config=cfg, compact_after=2,
        ).awaitTermination(180)

    def assert_corrects_as_compacted(name):
        segs = list_segments(seg_dir)
        for s in segs:
            with open(f"{s}/spell/_spell_meta.json") as f:
                assert json.load(f)["max_dist"] == 1
        got = TieredEngine(spark, segs).correct("rivr")
        assert got and got[0][0] == "river"
        if len(segs) > 1:
            ref = SearchEngine(
                spark, compact(spark, segs, str(tmp_path / name))
            )
            ref.build_spellindex(max_dist=1)
        else:
            ref = SearchEngine(spark, segs[0])
        assert got == ref.correct("rivr")

    land(range(0, 12), "b0")
    (base,) = list_segments(seg_dir)
    assert not os.path.exists(f"{base}/spell")
    SearchEngine(spark, base).build_spellindex(max_dist=1)
    # a micro-batch that adds docs and replaces two of the base's
    land([*range(12, 20), 3, 7], "b1")
    assert len(list_segments(seg_dir)) == 2
    assert_corrects_as_compacted("ref1")
    land(range(20, 26), "b2")  # the third segment folds the list
    (folded,) = list_segments(seg_dir)
    assert folded.endswith("_compacted")
    assert_corrects_as_compacted("ref2")


def test_worker_liveness_non_utc_timezone(spark, tmp_path):
    """Regression: with a non-UTC session timezone, Arrow hands the
    stateful kernel tz-naive SESSION-zone timestamps; treating them as
    UTC either killed the stream (timeout below watermark, west of UTC)
    or silently delayed dead detection (east of UTC). The kernel now
    localizes before epoch math and clamps above the watermark."""
    import datetime as dt
    import os

    import pandas as pd

    from wiki_search_engine_spark.streaming.heartbeats import (
        worker_liveness,
    )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        t0 = dt.datetime(2025, 10, 1, 12, 0, 0)
        batches = [
            [("w1", t0, 5), ("w2", t0 + dt.timedelta(seconds=10), 3)],
            [("w1", t0 + dt.timedelta(minutes=20), 2)],
        ]
        src = str(tmp_path / "hb_tz")
        os.makedirs(src)
        for rows in batches:
            spark.createDataFrame(
                pd.DataFrame(
                    rows, columns=["worker_id", "ts", "pages"]
                )
            ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(
                "worker_id string, ts timestamp, pages long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            worker_liveness(stream, timeout="2 minutes")
            .writeStream.format("memory")
            .queryName("liveness_tz")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()
        rows = spark.sql("SELECT * FROM liveness_tz").collect()
        assert rows
        # w2 went silent and the watermark passed its timeout -> dead,
        # with last_ts round-tripping the original session-zone value
        dead = [r for r in rows if r["status"] == "dead"]
        assert any(r["worker_id"] == "w2" for r in dead)
        w2_dead = next(r for r in dead if r["worker_id"] == "w2")
        # collect() renders timestamps in the DRIVER's OS zone (UTC on
        # this box); the stored instant must be t0+10s interpreted in
        # the session zone (PDT, UTC-7) -> 19:00:10 UTC
        assert w2_dead["last_ts"] == t0 + dt.timedelta(
            hours=7, seconds=10
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_pointer_commit_crash_injection(spark, tmp_path):
    """The pointer-file commit (streaming/ingest.py): at EVERY simulated
    crash point of the enroll + merge + commit sequence, a reader
    (SearchEngine.load through engine.resolve_index_dir) opens a
    complete, servable index — there is no instant with a missing
    index, unlike the old directory-swap scheme's parked-dir window."""
    import os

    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.plans.merge import merge_indexes
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.streaming.ingest import (
        INDEX_ENTRIES, cleanup_index_root, enroll_index_root,
        read_index_pointer, write_index_pointer,
    )

    kw = dict(stem=True, n_buckets=8, bucket_groups=1, salt_bits=2)
    rows = [doc_row(i, SEED) for i in range(25)]
    root = str(tmp_path / "root")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(rows)), root, **kw
    )
    q0 = next(w for w in rows[0]["text"].split() if w.isalpha())

    def servable(expect_n):
        eng = SearchEngine.load(spark, root)
        assert eng.n == expect_n
        eng.search_local(q0, k=3)
        return eng

    servable(25)  # plain legacy dir resolves to itself

    # crash mid-enrollment: half the entries moved, then resume
    building = f"{root}/v_init.building"
    os.makedirs(building)
    for e in INDEX_ENTRIES[:3]:
        if os.path.exists(f"{root}/{e}"):
            os.rename(f"{root}/{e}", f"{building}/{e}")
    enroll_index_root(root)  # resumes and completes the migration
    assert read_index_pointer(root) == "v_init"
    servable(25)

    # steady-state fold, crashing at every step boundary
    delta_rows = [doc_row(i, SEED) for i in range(25, 30)]
    delta = str(tmp_path / "delta")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(delta_rows)), delta,
        **kw,
    )
    cur = read_index_pointer(root)
    new_building = f"{root}/v_b1.building"
    merge_indexes(spark, f"{root}/{cur}", delta, new_building)
    servable(25)  # crash: building exists, pointer still old
    os.rename(new_building, f"{root}/v_b1")
    servable(25)  # crash: new snapshot complete, pre-commit
    with open(f"{root}/current.tmp", "w") as f:
        f.write("v_b1")  # crash mid-commit: tmp written, not renamed
    servable(25)
    write_index_pointer(root, "v_b1")
    servable(30)  # committed: readers see the folded corpus
    assert os.path.isdir(f"{root}/v_init")  # old snapshot alive at flip
    cleanup_index_root(root, keep="v_b1")
    servable(30)
    assert not os.path.isdir(f"{root}/v_init")
    assert not os.path.exists(f"{root}/current.tmp")

    # a pre-commit crash's leftovers vanish at the next batch's cleanup
    # without touching the live snapshot
    os.makedirs(f"{root}/v_b2.building")
    with open(f"{root}/current.tmp", "w") as f:
        f.write("junk")
    cleanup_index_root(root, keep=read_index_pointer(root))
    servable(30)
    assert not os.path.exists(f"{root}/v_b2.building")


def test_snapshot_log_retention_time_travel(spark, tmp_path):
    """snapshots.log semantics without Spark jobs in the loop: torn
    tails are skipped, a flip-then-crash (pointer updated, commit never
    logged) still lists the current snapshot, expire keeps the newest
    keep_last plus current and compacts the log, and time travel
    resolves names / rejects what it must (expired name, plain dir)."""
    import json
    import os

    import pandas as pd
    import pytest

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.streaming.ingest import (
        append_snapshot_log, enroll_index_root, expire_snapshots,
        list_snapshots, read_index_pointer, read_snapshot_log,
        write_index_pointer,
    )

    kw = dict(stem=True, n_buckets=4, bucket_groups=1, salt_bits=2)
    root = str(tmp_path / "root")
    SearchEngine.build(
        spark,
        spark.createDataFrame(
            pd.DataFrame([doc_row(i, SEED) for i in range(8)])
        ),
        root, **kw,
    )
    enroll_index_root(root)
    assert [r["name"] for r in read_snapshot_log(root)] == ["v_init"]

    # fake three more commits by cloning the snapshot (contents don't
    # matter for the metadata layer under test)
    import shutil

    for i in range(3):
        name = f"v_{i:08d}"
        shutil.copytree(f"{root}/v_init", f"{root}/{name}")
        write_index_pointer(root, name)
        append_snapshot_log(root, name, batch_id=i)
    assert list_snapshots(root) == [
        "v_init", "v_00000000", "v_00000001", "v_00000002",
    ]

    # torn final line (crash mid-append) is skipped, not an error
    with open(f"{root}/snapshots.log", "a") as f:
        f.write('{"name": "v_torn"')
    assert [r["name"] for r in read_snapshot_log(root)][-1] == (
        "v_00000002"
    )

    # flip-then-crash: pointer names a snapshot the log never recorded
    shutil.copytree(f"{root}/v_init", f"{root}/v_unlogged")
    write_index_pointer(root, "v_unlogged")
    assert list_snapshots(root)[-1] == "v_unlogged"

    # expire: newest keep_last=2 (v_00000002, v_unlogged-as-current)
    # survive; the log is compacted to surviving on-disk records
    removed = expire_snapshots(root, keep_last=2)
    assert sorted(removed) == ["v_00000000", "v_00000001", "v_init"]
    assert list_snapshots(root) == ["v_00000002", "v_unlogged"]
    assert not os.path.isdir(f"{root}/v_init")
    assert all(
        os.path.isdir(f"{root}/{r['name']}")
        for r in read_snapshot_log(root)
    )

    # expire never removes the pointer target, even at keep_last=1
    expire_snapshots(root, keep_last=1)
    assert read_index_pointer(root) == "v_unlogged"
    assert os.path.isdir(f"{root}/v_unlogged")

    # time travel: named load serves, expired/unknown name errors with
    # the travelable list, plain directories refuse the kwarg
    eng = SearchEngine.load(spark, root, snapshot="v_unlogged")
    assert eng.n == 8
    with pytest.raises(FileNotFoundError, match="v_unlogged"):
        SearchEngine.load(spark, root, snapshot="v_00000000")
    plain = str(tmp_path / "plain")
    SearchEngine.build(
        spark,
        spark.createDataFrame(
            pd.DataFrame([doc_row(i, SEED) for i in range(4)])
        ),
        plain, **kw,
    )
    with pytest.raises(ValueError, match="snapshot root"):
        SearchEngine.load(spark, plain, snapshot="v_init")

    # CLI surface: snapshots subcommand lists + expires without Spark
    import io
    import sys as _sys

    sys_path_added = "/root/repo/scripts" not in _sys.path
    if sys_path_added:
        _sys.path.insert(0, "/root/repo/scripts")
    try:
        import run_engine

        buf = io.StringIO()
        stdout, _sys.stdout = _sys.stdout, buf
        try:
            rc = run_engine.main(["snapshots", "--index", root])
        finally:
            _sys.stdout = stdout
        assert rc == 0
        out = json.loads(buf.getvalue())
        assert out["current"] == "v_unlogged"
        assert [s["name"] for s in out["snapshots"]] == list_snapshots(
            root
        )
        assert all(
            s["is_current"] == (s["name"] == "v_unlogged")
            for s in out["snapshots"]
        )
    finally:
        if sys_path_added:
            _sys.path.remove("/root/repo/scripts")


def test_maintain_cli_end_to_end(spark, tmp_path):
    """The spark-submit maintenance surface: `run_engine.py maintain`
    drains landed pages into the index with snapshot commits, reports
    the pointer + snapshot list, and the folded index serves the new
    docs (subprocess — the CLI owns and stops its own SparkSession)."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row

    kw = dict(stem=True, n_buckets=8, bucket_groups=1, salt_bits=2)
    base_rows = [doc_row(i, SEED) for i in range(20)]
    new_rows = [doc_row(i, SEED) for i in range(20, 30)]
    idx = str(tmp_path / "idx")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(base_rows)), idx, **kw
    )
    landed = tmp_path / "landed"
    landed.mkdir()
    spark.createDataFrame(pd.DataFrame(new_rows)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(landed / "b1"))

    # spark-submit ships the package via --py-files; the bare-python
    # form needs the repo root on the path (scripts/ is sys.path[0])
    env = dict(
        os.environ, SPARK_MASTER="local[4]", PYTHONPATH="/root/repo"
    )
    proc = subprocess.run(
        [
            sys.executable, "scripts/run_engine.py", "maintain",
            "--input", f"{landed}/*",
            "--index", idx,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--work", str(tmp_path / "work"),
            "--retain", "2",
        ],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["N"] == 30
    assert out["current"] in out["snapshots"]
    assert len(out["snapshots"]) == 2  # v_init retained for time travel

    live = SearchEngine.load(spark, idx)
    assert live.n == 30
    from wiki_search_engine_spark.functions.analyzer import STOPWORDS

    q = next(
        w for w in new_rows[0]["text"].split()
        if w.isalpha() and len(w) >= 4 and w.lower() not in STOPWORDS
    )
    hits = {d for d, _ in live.search_local(q, k=30)}
    urls = {r["url"] for r in live.lookup_docs(list(hits))}
    assert urls & {r["url"] for r in new_rows}


def test_snapshot_name_collision_after_checkpoint_reset(spark, tmp_path):
    """retain_snapshots > 1 + a checkpoint reset restarts batch ids at
    0, so a re-used snapshot name can collide with a RETAINED
    non-current snapshot. The commit must take a fresh name instead of
    failing the os.rename onto the existing directory (regression: the
    old guard only checked against the current pointer target)."""
    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.streaming.ingest import (
        list_snapshots, maintain_index_incremental, read_index_pointer,
    )

    kw = dict(stem=True, n_buckets=4, bucket_groups=1, salt_bits=2)
    idx = str(tmp_path / "idx")
    SearchEngine.build(
        spark,
        spark.createDataFrame(
            pd.DataFrame([doc_row(i, SEED) for i in range(15)])
        ),
        idx, **kw,
    )
    landed = tmp_path / "landed"
    landed.mkdir()

    def land(lo, hi, name):
        spark.createDataFrame(
            pd.DataFrame([doc_row(i, SEED) for i in range(lo, hi)])
        ).coalesce(1).write.mode("overwrite").parquet(str(landed / name))

    def drain(ckpt):
        q = maintain_index_incremental(
            spark, str(landed) + "/*", idx, str(tmp_path / ckpt),
            str(tmp_path / "work"), retain_snapshots=3,
        )
        q.awaitTermination(120)

    land(15, 25, "b1")
    drain("ckpt1")
    land(25, 35, "b2")
    drain("ckpt1")
    assert read_index_pointer(idx) == "v_00000001"
    assert "v_00000000" in list_snapshots(idx)  # retained, NOT current

    # checkpoint reset: the whole landed dir re-folds as batch 0 again
    land(35, 45, "b3")
    drain("ckpt2")
    cur = read_index_pointer(idx)
    assert cur == "v_00000000r"  # fresh name, not a failed rename
    snaps = list_snapshots(idx)
    assert {"v_00000000", "v_00000001", cur} <= set(snaps)
    live = SearchEngine.load(spark, idx)
    assert live.n == 45  # re-fold is idempotent (delta wins twice)


def test_maintenance_preserves_positions(spark, tmp_path):
    """A positions-enabled root keeps phrase search working across
    streaming folds: each delta builds with the sidecar and the merge
    folds it, so post-fold phrase results equal a from-scratch rebuild
    over the expected corpus."""
    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.functions.analyzer import full_tokens
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.streaming.ingest import (
        maintain_index_incremental,
    )

    kw = dict(
        stem=True, n_buckets=8, bucket_groups=1, salt_bits=2,
        positions=True,
    )
    base_rows = [doc_row(i, SEED) for i in range(25)]
    batch1 = [doc_row(i, 7) for i in range(5, 10)] + [
        doc_row(i, SEED) for i in range(25, 32)
    ]

    idx = str(tmp_path / "pos_live")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(base_rows)), idx, **kw
    )
    stream_dir = tmp_path / "landed"
    stream_dir.mkdir()
    spark.createDataFrame(pd.DataFrame(batch1)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stream_dir / "b1"))
    q = maintain_index_incremental(
        spark, str(stream_dir) + "/*", idx,
        str(tmp_path / "ckpt"), str(tmp_path / "work"),
    )
    q.awaitTermination(120)

    expected_rows = (
        [r for i, r in enumerate(base_rows) if i not in range(5, 10)]
        + batch1
    )
    full = str(tmp_path / "pos_rebuild")
    SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(expected_rows)),
        full, **kw,
    )
    live = SearchEngine.load(spark, idx)
    ref = SearchEngine.load(spark, full)
    toks_new = full_tokens(batch1[0]["text"])
    toks_old = full_tokens(base_rows[0]["text"])
    for phrase in (
        " ".join(toks_new[:2]),      # re-crawled content
        " ".join(toks_old[:2]),      # untouched base content
    ):
        assert live.search_phrase(phrase, k=100) == ref.search_phrase(
            phrase, k=100
        ), phrase


def test_maintenance_refreshes_spell_layout(spark, tmp_path):
    """A spell-enrolled root gets a FRESH per-fold spell layout: new
    vocabulary becomes correctable after the fold, and corrections
    equal a layout built directly over the new snapshot's lexicon."""
    import pandas as pd

    from tests.conftest import SEED
    from wiki_search_engine_spark.engine import SearchEngine
    from wiki_search_engine_spark.sources.synth import doc_row
    from wiki_search_engine_spark.streaming.ingest import (
        maintain_index_incremental,
    )

    kw = dict(stem=True, n_buckets=8, bucket_groups=1, salt_bits=2)
    base_rows = [doc_row(i, SEED) for i in range(20)]
    newdoc = dict(doc_row(99, SEED))
    newdoc["text"] = newdoc["text"] + " zqvwordx zqvwordx zqvwordx"
    idx = str(tmp_path / "spell_live")
    eng0 = SearchEngine.build(
        spark, spark.createDataFrame(pd.DataFrame(base_rows)), idx, **kw
    )
    eng0.build_spellindex(max_dist=2)

    stream_dir = tmp_path / "landed"
    stream_dir.mkdir()
    spark.createDataFrame(pd.DataFrame([newdoc])).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stream_dir / "b1"))
    q = maintain_index_incremental(
        spark, str(stream_dir) + "/*", idx,
        str(tmp_path / "ckpt"), str(tmp_path / "work"),
    )
    q.awaitTermination(120)

    live = SearchEngine.load(spark, idx)
    got = live.correct("zqvwordz", k=3)   # typo of the NEW term
    assert got and got[0][0] == "zqvwordx" and got[0][1] == 1
