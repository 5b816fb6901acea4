"""Structured Streaming smoke: file source → memory sink, driven to
completion with processAllAvailable."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rag_system_vector_db_spark.streaming import pipeline as P


@pytest.fixture(scope="module")
def stream_dirs(sf_dir, tmp_path_factory):
    """File stream sources need directories; stage symlinks."""
    base = tmp_path_factory.mktemp("stream_src")
    dirs = {}
    for t in ("documents", "events"):
        d = base / t
        d.mkdir()
        os.symlink(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
        dirs[t] = str(d)
    return dirs


def test_streaming_ingest_chunks_and_embeds(spark, sf_dir, stream_dirs):
    stream = P.stream_documents(spark, stream_dirs["documents"])
    out = P.ingest_pipeline(stream, chunk_window=40)
    assert out.isStreaming
    P.run_to_memory(out, "ingest_out")
    got = spark.sql("SELECT * FROM ingest_out")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert got.count() >= n_docs  # ≥1 chunk per doc
    row = got.first()
    assert len(row.embedding) == 64
    batch_equiv = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from rag_system_vector_db_spark.operators.chunking import chunk_by_tokens

    assert got.count() == chunk_by_tokens(batch_equiv, 40).count()


def test_streaming_windowed_counts(spark, sf_dir, stream_dirs):
    ev = P.stream_events(spark, stream_dirs["events"])
    agg = P.windowed_event_counts(ev, window="1 hour", watermark="2 hours")
    P.run_complete_to_memory(agg, "win_out")
    got = spark.sql("SELECT * FROM win_out")
    assert got.count() > 0
    assert set(got.columns) == {"win_start", "win_end", "event_type", "n", "sum_value"}
    # totals must reconcile with the batch count
    total = got.groupBy().sum("n").first()[0]
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState keep-first dedup: a hash seen in an
    earlier micro-batch must be suppressed in later ones."""
    import pandas as pd

    src = tmp_path / "docs"
    src.mkdir()

    def write_batch(name, doc_ids, texts):
        pdf = pd.DataFrame(
            {
                "doc_id": pd.array(doc_ids, dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        )
        pdf.to_parquet(src / name)

    write_batch("b1.parquet", [1, 2], ["alpha text", "beta text"])
    out = P.streaming_dedup(P.stream_documents(spark, str(src)))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: doc 3 duplicates doc 1's content, doc 4 is new
        write_batch("b2.parquet", [3, 4], ["alpha text", "gamma text"])
        q.processAllAvailable()
    finally:
        q.stop()
    keepers = {r.keeper_id for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert keepers == {1, 2, 4}  # 3 suppressed as duplicate of 1


def test_streaming_session_windows(spark, sf_dir, stream_dirs):
    ev = P.stream_events(spark, stream_dirs["events"])
    agg = P.session_event_counts(ev, gap="30 minutes", watermark="2 hours")
    P.run_complete_to_memory(agg, "sess_out")
    got = spark.sql("SELECT * FROM sess_out")
    assert got.count() > 0
    total = got.groupBy().sum("n_events").first()[0]
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered event_id within
    the watermark horizon is dropped across micro-batches."""
    import pandas as pd

    src = tmp_path / "ev"
    src.mkdir()
    base_ns = 1_700_000_000 * 1_000_000_000

    def write_batch(name, ids, offsets_s):
        pdf = pd.DataFrame(
            {
                "event_id": pd.array(ids, dtype="int64"),
                "ts": pd.array(
                    [base_ns + o * 1_000_000_000 for o in offsets_s], dtype="int64"
                ),
                "user_id": pd.array([1] * len(ids), dtype="int64"),
                "event_type": ["click"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )
        pdf.to_parquet(src / name)

    write_batch("b1.parquet", [1, 2], [0, 10])
    out = P.dedup_within_watermark(P.stream_events(spark, str(src)))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # id 1 re-delivered (dup), id 3 new
        write_batch("b2.parquet", [1, 3], [5, 20])
        q.processAllAvailable()
    finally:
        q.stop()
    got = [r.event_id for r in spark.sql("SELECT * FROM wm_dedup_out").collect()]
    assert sorted(got) == [1, 2, 3]


def test_stream_stream_join_matches_batch(spark, sf_dir, stream_dirs):
    """Time-bounded stream-stream inner join must produce exactly the
    batch join's matches once all input is processed."""
    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.sources.tables import load_table

    batch = load_table(spark, sf_dir, "events")
    types = sorted(r[0] for r in batch.select("event_type").distinct().collect())
    t_l, t_r = types[0], types[1]

    ev_l = P.stream_events(spark, stream_dirs["events"]).filter(
        F.col("event_type") == t_l
    )
    ev_r = P.stream_events(spark, stream_dirs["events"]).filter(
        F.col("event_type") == t_r
    )
    joined = P.stream_stream_join(ev_l, ev_r, within="1 hour")
    P.run_to_memory(joined, "ssj_out")
    got = spark.sql("SELECT * FROM ssj_out")

    b = batch  # load_table already normalizes ts to a UTC timestamp
    bl = b.filter(F.col("event_type") == t_l).select(
        F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts")
    )
    br = b.filter(F.col("event_type") == t_r).select(
        F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts")
    )
    expected = bl.join(
        br,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 hour")),
    ).count()
    assert expected > 0
    assert got.count() == expected


def test_streaming_checkpoint_exactly_once_resume(spark, tmp_path):
    """Checkpointed file-source -> parquet-sink query, stopped and
    restarted: already-committed input files are not reprocessed, new
    files are, and no duplicates appear in the sink."""
    import pandas as pd

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, ids):
        pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="int64"),
                "text": [f"text {i}" for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["s"] * len(ids),
                "n_chars": pd.array([6] * len(ids), dtype="int64"),
            }
        ).to_parquet(src / name)

    def run_once():
        stream = P.stream_documents(spark, str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_batch("b1.parquet", [1, 2, 3])
    run_once()
    write_batch("b2.parquet", [4, 5])
    run_once()  # restart from the same checkpoint
    got = sorted(r.doc_id for r in spark.read.parquet(str(sink)).collect())
    assert got == [1, 2, 3, 4, 5]  # b1 not reprocessed, b2 picked up


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: unmatched left rows are held in
    state and emitted with null right side only after the watermark
    passes their join window."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "ev"
    src.mkdir()
    base_ns = 1_700_000_000 * 1_000_000_000

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": pd.array([r[0] for r in rows], dtype="int64"),
                "ts": pd.array(
                    [base_ns + r[1] * 1_000_000_000 for r in rows], dtype="int64"
                ),
                "user_id": pd.array([r[2] for r in rows], dtype="int64"),
                "event_type": [r[3] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        pdf.to_parquet(src / name)

    # stage the first batch before building the streams: stream_events
    # fails fast on an empty dir (it must probe the on-disk ts layout)
    # user 1 click->buy matches; user 2 click has no buy
    write_batch("b1.parquet", [(1, 0, 1, "c"), (2, 60, 1, "b"), (3, 0, 2, "c")])

    clicks = P.stream_events(spark, str(src)).filter(F.col("event_type") == "c")
    buys = P.stream_events(spark, str(src)).filter(F.col("event_type") == "b")
    l = clicks.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = buys.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    joined = l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 minutes")),
        "left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time far past the watermark so unmatched state flushes
        write_batch("b2.parquet", [(9, 7200, 99, "c")])
        q.processAllAvailable()
        write_batch("b3.parquet", [(10, 14400, 99, "b")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM ssj_outer").collect()
    by_click = {r_.l_event_id: r_.r_event_id for r_ in rows}
    assert by_click.get(1) == 2  # matched within the 5-minute window
    assert 3 in by_click and by_click[3] is None  # flushed as unmatched


def test_streaming_ivf_index_maintenance_upserts(spark, tmp_path):
    """Bulk-build the cell-partitioned index, stream two micro-batches
    of upserts (one moves a vector far enough to change cell), and
    check the resolved view is exactly latest-version-per-vec_id —
    then compaction folds the log to one physical row per vector with
    search results unchanged."""
    import numpy as np
    import pandas as pd

    from rag_system_vector_db_spark.operators import ann

    rng = np.random.default_rng(7)

    def emb_pdf(ids, shift=0.0):
        return pd.DataFrame(
            {
                "vec_id": pd.array(ids, dtype="int64"),
                "embedding": [
                    (rng.standard_normal(8) + shift).astype("float32")
                    for _ in ids
                ],
                "label": pd.array([i % 3 for i in ids], dtype="int32"),
            }
        )

    src = tmp_path / "src"
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    base = emb_pdf(range(20))
    spark.createDataFrame(base).write.mode("overwrite").parquet(
        str(tmp_path / "base")
    )
    cents = [[0.0] * 8, [2.0] * 8, [-2.0] * 8, [4.0] * 8]
    ann.ivf_index_build(
        spark.read.parquet(str(tmp_path / "base")), cents, idx, vec_col="embedding"
    )

    # two update batches: ids 3..7 re-embedded near +2 (cell likely
    # changes), then ids 5..9 near -2 (later batch must win for 5..7)
    b1 = emb_pdf(range(3, 8), shift=2.0)
    b2 = emb_pdf(range(5, 10), shift=-2.0)
    b1.to_parquet(src / "b1.parquet")
    q = P.start_ivf_index_maintenance(
        P.stream_embeddings(spark, str(src)), cents, idx, ckpt
    )
    try:
        q.processAllAvailable()
        b2.to_parquet(src / "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    resolved = P.read_ivf_index(spark, idx)
    got = {r.vec_id: list(r.embedding) for r in resolved.collect()}
    want = {int(r.vec_id): list(r.embedding) for _, r in base.iterrows()}
    for df_upd in (b1, b2):  # later batches overwrite
        for _, r in df_upd.iterrows():
            want[int(r.vec_id)] = list(r.embedding)
    assert len(got) == 20
    assert all(np.allclose(got[i], want[i]) for i in want)

    # probe results over the resolved log, to compare after compaction
    queries = spark.createDataFrame(
        [(i, [float(x) for x in want[i]]) for i in (0, 4, 8)],
        "query_id long, query_vec array<double>",
    )
    want_hits = sorted(
        (r.query_id, r.rank, r.vec_id, r.score)
        for r in ann.ann_ivf_topk(P.read_ivf_index(spark, idx), queries, cents, k=3).collect()
    )

    # compaction: one physical row per vector, same resolved content,
    # and the layout keeps its schema file (the indexed search reads it)
    P.compact_ivf_index(spark, idx)
    raw = spark.read.parquet(idx)
    assert raw.count() == 20
    assert (tmp_path / "idx" / ann.LAYOUT_SCHEMA_FILE).is_file()
    got_hits = ann.ann_ivf_indexed_topk(spark, idx, queries, cents, k=3).collect()
    assert sorted((r.query_id, r.rank, r.vec_id, r.score) for r in got_hits) == want_hits
    got2 = {r.vec_id: list(r.embedding) for r in P.read_ivf_index(spark, idx).collect()}
    assert all(np.allclose(got2[i], want[i]) for i in want)
    # cells in the compacted layout are the true nearest-centroid cells
    recomputed = ann.with_cell(raw.select("vec_id", "embedding"), "embedding", cents)
    mismatch = (
        raw.select("vec_id", "cell")
        .join(recomputed.select("vec_id", F.col("_cell").alias("c2")), "vec_id")
        .filter(F.col("cell") != F.col("c2"))
        .count()
    )
    assert mismatch == 0


def test_streaming_corpus_dedup_against_base_index(spark, tmp_path):
    """Dedup-at-the-door ingest: micro-batches are checked against the
    persisted base index (exact hash + LSH band collision) and the
    index absorbs each batch's novel docs, so later batches dedup
    against earlier ones. The streamed survivor set must equal the
    batch-computed expectation from the same operators."""
    import pandas as pd

    from rag_system_vector_db_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
        shingle_set,
    )

    base_texts = [
        "the quick brown fox jumps over the lazy dog near the old river bank today",
        "spark executes declarative plans with catalyst and tungsten at cluster scale",
    ]
    src = tmp_path / "docs"
    src.mkdir()

    def doc_rows(ids, texts):
        return pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        )

    base = spark.createDataFrame(doc_rows([1, 2], base_texts))
    idx = str(tmp_path / "dedup_index")
    P.build_dedup_index(base, idx)

    b1_texts = [
        base_texts[0],  # exact dup of base -> dropped
        "completely novel content about window aggregation and shuffle exchange plans",
    ]
    b2_texts = [
        b1_texts[1],  # repeat of batch-1 novel doc -> dropped via updated index
        "another fresh document describing broadcast joins and partition pruning",
    ]
    doc_rows([10, 11], b1_texts).to_parquet(src / "b1.parquet")

    out_dir = str(tmp_path / "novel")
    q = P.start_streaming_corpus_dedup(
        P.stream_documents(spark, str(src)),
        idx,
        out_dir,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        doc_rows([20, 21], b2_texts).to_parquet(src / "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    survivors = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    # batch expectation from the same operators: doc 10 exact-dups base,
    # doc 20 exact-dups doc 11's (streamed) content; 11/21 are novel
    # unless their bands collide with the base (compute, don't guess)
    def band_sigs(ids, texts):
        df = lsh_band_buckets(
            minhash_signatures(shingle_set(spark.createDataFrame(doc_rows(ids, texts))))
        )
        return {(r.band, r.band_sig) for r in df.collect()}

    base_sigs = band_sigs([1, 2], base_texts)  # PRE-stream artifacts
    sig11 = band_sigs([11], [b1_texts[1]])
    sig21 = band_sigs([21], [b2_texts[1]])
    expected = set()
    seen = set(base_sigs)
    if not (sig11 & seen):
        expected.add(11)
        seen |= sig11  # the index absorbs 11 before batch 2
    if not (sig21 & seen):
        expected.add(21)
    assert survivors == expected
    # the index absorbed the streamed novel docs
    n_hashes = spark.read.parquet(f"{idx}/hashes").distinct().count()
    assert n_hashes == 2 + len(expected)


def test_rocksdb_state_store_conf_shape():
    """Cluster config notes are real config keys with the safety knobs
    on: RocksDB provider + changelog checkpointing + bounded memory."""
    conf = P.rocksdb_state_store_conf()
    assert conf["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert (
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"]
        == "true"
    )
    assert (
        conf["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] == "true"
    )
    assert conf["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] == "512"
    # unbounded variant drops the memory caps but keeps the provider
    unbounded = P.rocksdb_state_store_conf(bounded_memory_mb=None)
    assert "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" not in unbounded


def test_stream_events_fails_fast_on_empty_dir(spark, tmp_path):
    """An empty source dir cannot be layout-probed; a guessed schema
    would read garbage silently once files land — must raise instead."""
    import pytest as _pytest

    empty = tmp_path / "no_events"
    empty.mkdir()
    with _pytest.raises(FileNotFoundError, match="cannot probe"):
        P.stream_events(spark, str(empty))


def test_streaming_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The cluster state-store config is not vaporware: the same
    stateful dedup runs green with the RocksDB provider active
    (providerClass is a runtime SQL conf, read at query start)."""
    import pandas as pd

    src = tmp_path / "docs_rdb"
    src.mkdir()

    def write_batch(name, doc_ids, texts):
        pd.DataFrame(
            {
                "doc_id": pd.array(doc_ids, dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        ).to_parquet(src / name)

    write_batch("b1.parquet", [1, 2], ["alpha", "beta"])
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        P.rocksdb_state_store_conf()[conf_key],
    )
    try:
        out = P.streaming_dedup(P.stream_documents(spark, str(src)))
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("rdb_dedup_out")
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch("b2.parquet", [3, 4], ["alpha", "gamma"])  # 3 dups 1
            q.processAllAvailable()
            # the running query actually used RocksDB state
            assert "RocksDB" in q.lastProgress["stateOperators"][0]["customMetrics"].keys().__str__() or "rocksdb" in str(q.lastProgress).lower()
        finally:
            q.stop()
        keepers = sorted(
            r.keeper_id for r in spark.sql("SELECT * FROM rdb_dedup_out").collect()
        )
        assert keepers == [1, 2, 4]
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def test_streaming_curation_pipeline_composes(spark, tmp_path):
    """Operator composition under structured streaming: one stream
    runs chunk -> embed -> learned quality gate -> stateful exact
    dedup, proving the batch curation operators are stream-composable
    (stateless column ops compose freely; the dedup layer is the only
    stateful stage). Batch replay of the same input must agree."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.operators.curation import quality_classifier

    src = tmp_path / "docs_cur"
    src.mkdir()

    def write_batch(name, doc_ids, texts):
        pd.DataFrame(
            {
                "doc_id": pd.array(doc_ids, dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        ).to_parquet(src / name)

    texts1 = ["alpha beta gamma delta", "epsilon zeta eta theta"]
    write_batch("b1.parquet", [1, 2], texts1)

    stream = P.stream_documents(spark, str(src))
    enriched = P.ingest_pipeline(stream, chunk_window=3)
    # the learned gate composes as plain column logic on the stream
    gated = quality_classifier(
        enriched.select(F.col("doc_id"), F.col("chunk_text").alias("text"))
    )
    assert gated.isStreaming
    # the per-doc score is an aggregation: complete mode (the scores
    # table is the result; append would need a watermark + event time)
    q = (
        gated.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cur_out")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2.parquet", [3], ["iota kappa lambda mu nu"])
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM cur_out")
    assert set(got.columns) == {"doc_id", "n_tokens", "sum_micro", "prob", "keep"}
    # batch replay agrees row for row
    batch_docs = spark.read.parquet(str(src))
    from rag_system_vector_db_spark.operators.chunking import chunk_by_tokens

    batch_equiv = quality_classifier(
        chunk_by_tokens(batch_docs, window=3).select(
            "doc_id", F.col("chunk_text").alias("text")
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch_equiv.collect())
    )


def test_streaming_corpus_dedup_replay_after_partial_index_write(spark, tmp_path):
    """Crash-replay convergence: if a crashed attempt of micro-batch 0
    landed its BAND rows (stamped _batch=0) but not its hashes, the
    replay must not collide with its own partial writes — the doc
    still lands in out_dir and its hash row is written, restoring the
    completeness invariant (every hashed doc has band rows)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rag_system_vector_db_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
        shingle_set,
    )

    def doc_rows(ids, texts):
        return pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        )

    base = spark.createDataFrame(
        doc_rows([1], ["spark plans execute with catalyst and tungsten"])
    )
    idx = str(tmp_path / "dedup_index")
    P.build_dedup_index(base, idx)

    novel_text = "entirely new prose about watermarks and stateful stream joins"
    batch = spark.createDataFrame(doc_rows([10], [novel_text]))
    # simulate the crashed attempt: batch 0's band rows reached the
    # index, its hashes and out rows did not
    lsh_band_buckets(minhash_signatures(shingle_set(batch))).withColumn(
        "_batch", F.lit(0).cast("long")
    ).write.mode("append").parquet(f"{idx}/bands")

    src = tmp_path / "docs"
    src.mkdir()
    doc_rows([10], [novel_text]).to_parquet(src / "b1.parquet")
    out_dir = str(tmp_path / "novel")
    q = P.start_streaming_corpus_dedup(
        P.stream_documents(spark, str(src)), idx, out_dir, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert {r.doc_id for r in spark.read.parquet(out_dir).collect()} == {10}
    hashes = spark.read.parquet(f"{idx}/hashes")
    import hashlib

    h = hashlib.md5(novel_text.encode()).hexdigest()
    assert hashes.filter(F.col("text_hash") == h).count() == 1


def test_transform_with_state_dedup_parity(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas dedup must behave
    batch-for-batch exactly like the applyInPandasWithState one:
    same keepers, same cross-batch suppression.

    The TWS state protocol speaks protobuf between the JVM and the
    Python worker; this container ships no google.protobuf, so the
    RUNTIME half gates on it (same posture as pdf_ingest's pypdf
    guard). The compile-level wiring — processor resolution, output
    schema, the TransformWithStateInPySpark operator in the plan — is
    asserted unconditionally below."""
    import pandas as pd

    src = tmp_path / "docs_tws"
    src.mkdir()

    def write_batch(name, doc_ids, texts):
        pdf = pd.DataFrame(
            {
                "doc_id": pd.array(doc_ids, dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        )
        pdf.to_parquet(src / name)

    write_batch("b1.parquet", [1, 2], ["alpha text", "beta text"])
    out = P.streaming_dedup_tws(P.stream_documents(spark, str(src)))
    # compile-level: the operator is wired with the right output schema
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == ["text_hash", "keeper_id"]
    assert "transformWithState" in out._jdf.queryExecution().logical().toString()

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf absent: TWS state protocol cannot run here")

    # runtime parity (runs wherever protobuf exists)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, P.rocksdb_state_store_conf()[conf_key])
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_tws_out")
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: doc 3 duplicates doc 1's content, doc 4 is new,
            # doc 5 duplicates WITHIN the batch (same content as 4)
            write_batch(
                "b2.parquet", [3, 4, 5], ["alpha text", "gamma text", "gamma text"]
            )
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    keepers = {r.keeper_id for r in spark.sql("SELECT * FROM dedup_tws_out").collect()}
    assert keepers == {1, 2, 4}  # 3 and 5 suppressed


def test_streaming_ewma_matches_sequential_replay(spark, sf_dir, tmp_path):
    """The stateful EWMA's final per-type state must equal a
    single-pass driver-side replay of the same div-2 recurrence over
    the globally time-ordered stream — proving the fold composes
    identically through micro-batch boundaries (two batches split by
    time here). Also exercises query progress: the stateful operator
    must report rows and state."""
    src = tmp_path / "ev_src"
    src.mkdir()
    from rag_system_vector_db_spark.sources import load_table

    evn = load_table(spark, sf_dir, "events").select(
        "event_type", "ts_ns", "event_id", "value"
    )
    cut = evn.agg(F.expr("percentile_approx(ts_ns, 0.5)")).first()[0]
    evn.filter(F.col("ts_ns") <= cut).coalesce(1).write.parquet(str(src / "b0"))
    first = [str(p) for p in (src / "b0").glob("*.parquet")]
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    import shutil

    shutil.copy(first[0], stream_dir / "part0.parquet")

    stream = spark.readStream.schema(
        evn.withColumn("value", F.col("value").cast("double")).schema
    ).parquet(str(stream_dir))
    out = P.streaming_ewma(
        stream.withColumnRenamed("value", "value")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ck")
        )
        .start()
    )
    q.processAllAvailable()
    # second batch: the rest of the stream
    evn.filter(F.col("ts_ns") > cut).coalesce(1).write.parquet(str(src / "b1"))
    second = [str(p) for p in (src / "b1").glob("*.parquet")]
    shutil.copy(second[0], stream_dir / "part1.parquet")
    q.processAllAvailable()
    prog = q.lastProgress
    q.stop()

    got = spark.sql(
        "SELECT event_type, n_seen, ewma FROM ewma_out"
    ).collect()
    # last emission per key (highest n_seen) is the final state
    final = {}
    for r in got:
        if r.event_type not in final or r.n_seen > final[r.event_type][0]:
            final[r.event_type] = (r.n_seen, r.ewma)

    # driver-side replay of the same recurrence over the full ordered
    # stream, batch-boundary-free
    rows = (
        evn.select("event_type", "ts_ns", "event_id", "value")
        .orderBy("ts_ns", "event_id")
        .collect()
    )
    replay: dict[str, tuple[int, int]] = {}
    for r in rows:
        v = int(round(r.value * 1e6))
        if r.event_type not in replay:
            replay[r.event_type] = (v, 1)
        else:
            e, n = replay[r.event_type]
            s = e + v
            e = s // 2 if s >= 0 else -((-s) // 2)
            replay[r.event_type] = (e, n + 1)
    assert set(final) == set(replay)
    for t, (n_seen, ewma) in final.items():
        e, n = replay[t]
        assert n_seen == n, t
        assert abs(ewma - e / 1e6) < 1e-9, t
    # progress reporting: the stateful operator surfaced state rows
    assert prog is not None and prog["stateOperators"], "no state operator progress"
    assert prog["stateOperators"][0]["numRowsTotal"] == len(replay)


def test_streaming_hll_register_maintenance(spark, tmp_path):
    """Streamed per-day HLL registers converge to the batch-computed
    registers (merge == rebuild across micro-batch boundaries), and a
    REPLAYED batch cannot change the resolved state — idempotence
    from the max-merge algebra, not from dedup bookkeeping."""
    import pandas as pd

    from rag_system_vector_db_spark.streaming import pipeline as P

    src = tmp_path / "src"
    regs = str(tmp_path / "regs")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    full = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .orderBy("event_id")
        .toPandas()
    )
    if str(full["ts"].dtype).startswith("datetime64"):
        # pandas defaults to nanos; Spark's parquet reader rejects
        # TIMESTAMP(NANOS) — write micros like the testdata layout
        full["ts"] = full["ts"].astype("datetime64[us]")
    half = len(full) // 2
    full.iloc[:half].to_parquet(src / "b1.parquet")
    q = P.start_streaming_hll_maintenance(
        P.stream_events(spark, str(src)), regs, ckpt
    )
    try:
        q.processAllAvailable()
        full.iloc[half:].to_parquet(src / "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    from rag_system_vector_db_spark.sources import load_table

    want = {
        (r["day"], r["idx"]): r["m_j"]
        for r in P.day_hll_registers(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect()
    }
    got = {
        (r["day"], r["idx"]): r["m_j"]
        for r in P.read_hll_registers(spark, regs).collect()
    }
    assert got == want

    # replay: append batch 1's registers again out-of-band; resolved
    # state must be unchanged (max is idempotent)
    P.day_hll_registers(
        spark.createDataFrame(full.iloc[:half])
    ).write.mode("append").parquet(regs)
    got2 = {
        (r["day"], r["idx"]): r["m_j"]
        for r in P.read_hll_registers(spark, regs).collect()
    }
    assert got2 == want
