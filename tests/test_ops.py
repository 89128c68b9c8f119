"""Training-pipeline operator tests: dedup, similarity/ANN, text
analysis, multimodal plumbing, checkpoint/lineage, streaming."""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_tdigest_spark import serde
from go_tdigest_spark.functions import text as T
from go_tdigest_spark.operators import (
    binary_features,
    build_partials,
    cosine_topk,
    decode_media,
    dedup_exact_keep_first,
    dedup_exact_stats,
    embedding_similar_pairs,
    frame_sample,
    lsh_ann_topk,
    minhash_lsh_pairs,
    minhash_signatures,
    merge_partials,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
    simhash_signatures,
)
from go_tdigest_spark.plans import CheckpointedSketchJob, commit
from go_tdigest_spark.sources import table
from go_tdigest_spark.streaming import read_stream_digests, tdigest_stream_writer

from conftest import SF_TINY


@pytest.fixture(scope="module")
def docs(spark):
    # small corpus with known duplicate structure
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "web"),
        (1, "the quick brown fox jumps over the lazy dog", "web"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "web"),  # near dup
        (3, "pack my box with five dozen liquor jugs", "books"),
        (4, "pack my box with five dozen liquor jugs today", "books"),  # near dup
        (5, "completely different content about spark engines", "code"),
        (6, "", "web"),
        (7, "the quick brown fox jumps over the lazy dog", "wiki"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dedup_exact(spark, docs):
    stats = dedup_exact_stats(docs, "text", ["source"]).toPandas()
    web = stats.loc[stats["source"] == "web"].iloc[0]
    assert web["n_docs"] == 4 and web["n_dup_docs"] == 1  # docs 0,1 dup

    kept = dedup_exact_keep_first(docs, "text", "doc_id").toPandas()
    assert 1 not in set(kept["doc_id"])  # doc 1 deduped against doc 0
    assert 7 not in set(kept["doc_id"])  # doc 7 deduped against doc 0
    assert {0, 2, 3, 4, 5, 6} <= set(kept["doc_id"])


def test_ngram_jaccard(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=1, threshold=0.5, max_doc_freq=None
    ).toPandas()
    got = {(a, b): j for a, b, j in pairs.itertuples(index=False)}
    assert got[(0, 1)] == 1.0  # identical
    assert (0, 2) in got and 0.5 <= got[(0, 2)] < 1.0  # near dup
    assert (3, 4) in got
    assert (0, 5) not in got and (3, 5) not in got


def test_minhash_lsh(spark, docs):
    sigs = minhash_signatures(docs, "text", "doc_id", n=2, n_hashes=16).toPandas()
    s = {r["doc"]: tuple(r["sig"]) for _, r in sigs.iterrows()}
    assert s[0] == s[1] == s[7]  # identical text -> identical signature
    agree02 = sum(x == y for x, y in zip(s[0], s[2])) / 16
    agree05 = sum(x == y for x, y in zip(s[0], s[5])) / 16
    assert agree02 > agree05  # near dup agrees more than unrelated

    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", n=2, n_hashes=16, bands=4, threshold=0.9
    ).toPandas()
    got = {(a, b) for a, b, _ in pairs.itertuples(index=False)}
    assert (0, 1) in got and (0, 7) in got and (1, 7) in got
    assert (0, 5) not in got


def test_lsh_pairs_vs_index(spark, docs):
    """Incremental dedup: a new shard banded against the standing corpus
    index finds exactly the CROSS-corpus near-dup pairs — equal to the
    cross-restricted subset of the full self-join — and matches the
    DuckDB twin row for row."""
    from go_tdigest_spark.operators import (
        lsh_pairs_vs_index,
        lsh_pairs_vs_index_sql,
        release_dedup_caches,
    )

    shard_ids = {1, 4, 7}
    shard = docs.where(F.col("doc_id").isin(*shard_ids))
    corpus = docs.where(~F.col("doc_id").isin(*shard_ids))
    sig = lambda d: minhash_signatures(d, "text", "doc_id", n=2, n_hashes=16)

    got = lsh_pairs_vs_index(
        sig(shard), sig(corpus), n_hashes=16, bands=4, threshold=0.5
    ).toPandas()
    got_pairs = {(a, b) for a, b, _ in got.itertuples(index=False)}
    # dups of index doc 0 surface; near-dup 4~3 surfaces; no shard-shard
    # pair (1,7 are both shard-side identical twins) and no index-index
    # pair can appear by construction
    assert (1, 0) in got_pairs and (7, 0) in got_pairs
    assert (4, 3) in got_pairs
    assert all(a in shard_ids and b not in shard_ids for a, b in got_pairs)

    # equivalence: the full self-join over shard ∪ corpus, restricted to
    # cross-corpus pairs and re-oriented (doc_new, doc_idx), is the same
    # set with the same estimates
    full = minhash_lsh_pairs(
        docs, "text", "doc_id", n=2, n_hashes=16, bands=4, threshold=0.5
    ).toPandas()
    want = {}
    for a, b, e in full.itertuples(index=False):
        if (a in shard_ids) != (b in shard_ids):
            new, idx = (a, b) if a in shard_ids else (b, a)
            want[(new, idx)] = e
    assert {(a, b): e for a, b, e in got.itertuples(index=False)} == want

    # DuckDB twin parity on the raw tables
    import duckdb

    con = duckdb.connect()
    pdf = docs.toPandas()
    con.register("new_t", pdf[pdf["doc_id"].isin(shard_ids)])
    con.register("idx_t", pdf[~pdf["doc_id"].isin(shard_ids)])
    oracle = {
        (a, b): e
        for a, b, e in con.execute(
            lsh_pairs_vs_index_sql(
                "new_t", "idx_t", "text", "doc_id",
                n=2, n_hashes=16, bands=4, threshold=0.5,
            )
        ).fetchall()
    }
    assert {(a, b): e for a, b, e in got.itertuples(index=False)} == oracle

    # index-side bucket cap: capping at 0 drops every bucket -> no pairs
    assert (
        lsh_pairs_vs_index(
            sig(shard), sig(corpus), n_hashes=16, bands=4,
            threshold=0.5, max_bucket_size=0,
        ).count()
        == 0
    )

    # empty shard -> empty result, schema intact
    empty = lsh_pairs_vs_index(
        sig(docs.where(F.lit(False))), sig(corpus), n_hashes=16, bands=4
    )
    assert empty.columns == ["doc_new", "doc_idx", "est_jaccard"]
    assert empty.count() == 0

    # width validation on the stored index (wrong n_hashes would
    # otherwise degenerate silently — same contract as the self-join)
    with pytest.raises(Exception, match="signature width"):
        lsh_pairs_vs_index(
            sig(shard),
            minhash_signatures(corpus, "text", "doc_id", n=2, n_hashes=8),
            n_hashes=16,
            bands=4,
        ).count()
    release_dedup_caches()


def test_simhash(spark, docs):
    sigs = simhash_signatures(docs, "text", "doc_id").toPandas()
    s = {r["doc"]: int(r["simhash"]) for _, r in sigs.iterrows()}
    assert s[0] == s[1]  # identical
    # mask before counting: int64 signatures are signed, and Python's
    # bin() of a negative xor is sign-magnitude, not two's-complement
    mask = (1 << 64) - 1
    ham02 = bin((s[0] ^ s[2]) & mask).count("1")
    ham05 = bin((s[0] ^ s[5]) & mask).count("1")
    assert ham02 < ham05  # near dup closer than unrelated
    assert ham02 <= 16

    from go_tdigest_spark.operators import release_dedup_caches

    release_dedup_caches()  # drain anything earlier tests left behind
    cands = simhash_candidate_pairs(
        simhash_signatures(docs, "text", "doc_id"), max_hamming=16
    )
    pdf = cands.toPandas()
    got = {(a, b) for a, b, _ in pdf.itertuples(index=False)}
    assert (0, 1) in got
    # the banded table is persisted by default and released through the
    # module registry after the consuming action
    assert release_dedup_caches() >= 1
    nocache = simhash_candidate_pairs(
        simhash_signatures(docs, "text", "doc_id"),
        max_hamming=16,
        persist_bands=False,
    )
    assert {tuple(r) for r in nocache.collect()} == {
        tuple(r) for r in pdf.itertuples(index=False)
    }
    assert release_dedup_caches() == 0


def test_embedding_similar_and_ann(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # near dup
    pdf = pd.DataFrame(
        {"vec_id": range(20), "embedding": [list(map(float, v)) for v in base]}
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

    pairs = embedding_similar_pairs(df, "embedding", "vec_id", threshold=0.99).toPandas()
    got = {(a, b) for a, b, _ in pairs.itertuples(index=False)}
    assert (0, 1) in got and len(got) < 5

    topk = cosine_topk(df, "embedding", "vec_id", query_ids=[0], k=3).toPandas()
    assert topk.iloc[0]["nn_id"] == 1 and topk.iloc[0]["rank"] == 1

    # LSH ANN recall vs brute force on rank-1 neighbors
    brute = cosine_topk(df, "embedding", "vec_id", query_ids=list(range(10)), k=1)
    lsh = lsh_ann_topk(
        df, "embedding", "vec_id", query_ids=list(range(10)), k=1,
        n_planes=4, dim=16,
    )
    b = {r["query_id"]: r["nn_id"] for r in brute.collect()}
    l = {r["query_id"]: r["nn_id"] for r in lsh.collect()}
    hits = sum(1 for q in l if b.get(q) == l[q])
    assert len(l) >= 5  # most queries find same-bucket candidates
    assert hits / max(len(l), 1) >= 0.5  # bucketed recall is imperfect but real

    # exhaustive probe (all 2^n_planes buckets) == brute force exactly,
    # THROUGH the bucketed feature -> equijoin -> re-rank plan (the
    # oracle-hashable mode the driver query runs)
    brute3 = cosine_topk(df, "embedding", "vec_id", query_ids=[0, 3, 7], k=3)
    allprobe = lsh_ann_topk(
        df, "embedding", "vec_id", query_ids=[0, 3, 7], k=3,
        n_planes=4, dim=16, probe_all=True,
    )
    want = {tuple(r) for r in brute3.collect()}
    got_all = {tuple(r) for r in allprobe.collect()}
    assert got_all == want

    import pytest as _pytest
    with _pytest.raises(ValueError, match="probe_all"):
        lsh_ann_topk(
            df, "embedding", "vec_id", query_ids=[0], k=1,
            n_planes=13, dim=16, probe_all=True,
        )


def test_text_functions_vs_python(spark, docs):
    out = docs.select(
        "doc_id",
        T.token_count("text").alias("ntok"),
        T.lang_id("text").alias("lang"),
        T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("q"),
    ).toPandas()
    rows = {r["doc_id"]: r for _, r in out.iterrows()}
    assert rows[0]["ntok"] == 9
    assert rows[6]["ntok"] == 0
    assert rows[0]["lang"] == "en"
    assert rows[5]["lang"] == "unk"

    def py_fp(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    for i in (0, 3, 5):
        assert rows[i]["fp"] == py_fp(
            "the quick brown fox jumps over the lazy dog" if i == 0 else
            "pack my box with five dozen liquor jugs" if i == 3 else
            "completely different content about spark engines"
        )
    assert rows[6]["fp"] == 0
    assert (out["q"].between(0, 1)).all()


def test_multimodal_plumbing(spark, docs):
    bins = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    feats = binary_features(bins, "payload", "doc_id").toPandas()
    rows = {r["doc"]: r for _, r in feats.iterrows()}
    t0 = "the quick brown fox jumps over the lazy dog"
    assert rows[0]["n_bytes"] == len(t0)
    assert rows[0]["checksum"] == sum(t0.encode()) % 2_147_483_647
    assert rows[0]["head_byte"] == ord("t") and rows[0]["tail_byte"] == ord("g")
    assert rows[6]["n_bytes"] == 0 and rows[6]["checksum"] == 0
    assert rows[6]["head_byte"] == -1

    with pytest.raises(NotImplementedError):
        decode_media(bins, "payload", "doc_id").collect()

    fake = decode_media(bins, "payload", "doc_id", fake=True).toPandas()
    r0 = fake.loc[fake["doc"] == 0].iloc[0]
    assert r0["width"] == len(t0) % 640 + 1 and r0["channels"] == 3

    frames = frame_sample(bins, "payload", "doc_id", stride=4).toPandas()
    f0 = bytes(frames.loc[frames["doc"] == 0, "frames"].iloc[0])
    assert f0 == t0.encode()[::4]


def _digest_job(spark, src, ckpt, n_epochs):
    """A t-digest CheckpointedSketchJob: l_extendedprice by l_returnflag."""
    by = ["l_returnflag"]
    return CheckpointedSketchJob(
        spark,
        src,
        ckpt,
        partials_fn=lambda df: build_partials(df, "l_extendedprice", by),
        merge_fn=lambda p, n: merge_partials(p, by, fanin=64, n_units=n),
        n_epochs=n_epochs,
    )


def test_checkpoint_resume(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    # multi-file input so epochs are non-trivial
    src = str(tmp_path / "input")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    li.repartition(8).write.parquet(src)

    job = _digest_job(spark, src, ckpt, n_epochs=4)
    # simulate a crash after 2 epochs
    job.run(max_epochs=2)
    assert job.completed_epochs() == [0, 1]
    mtimes = {
        e: os.path.getmtime(os.path.join(ckpt, "partials", f"epoch={e}", "_SUCCESS"))
        for e in (0, 1)
    }
    # resume finishes the rest without redoing committed epochs
    final = job.run(resume=True).toPandas()
    assert job.completed_epochs() == [0, 1, 2, 3]
    for e, m in mtimes.items():
        assert os.path.getmtime(
            os.path.join(ckpt, "partials", f"epoch={e}", "_SUCCESS")
        ) == m

    expect = (
        li.groupBy("l_returnflag")
        .agg(F.count("l_extendedprice").alias("n"), F.min("l_extendedprice").alias("mn"),
             F.max("l_extendedprice").alias("mx"))
        .toPandas()
        .set_index("l_returnflag")
    )
    for _, row in final.iterrows():
        d = serde.decode(bytes(row["digest"]))
        e = expect.loc[row["l_returnflag"]]
        assert d.count == e["n"] == row["total_weight"]
        assert d.quantile(0.0) == e["mn"] and d.quantile(1.0) == e["mx"]

    met = job.metrics().toPandas()
    assert met["rows"].sum() == expect["n"].sum()
    assert set(met["epoch"]) == {0, 1, 2, 3}


def test_checkpoint_all_empty_input(spark, tmp_path):
    """All-empty input: committed epochs exist but may carry zero data
    files — merged()/lineage()/metrics() must return EMPTY DataFrames
    with the partials schema, not FileNotFoundError (that error is
    reserved for 'no committed epochs at all')."""
    import glob

    ckpt = str(tmp_path / "ckpt_empty")
    src = str(tmp_path / "input_empty")
    li = table(spark, SF_TINY, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    li.limit(0).repartition(4).write.parquet(src)

    job = _digest_job(spark, src, ckpt, n_epochs=2)
    final = job.run()
    assert final.count() == 0
    assert job.completed_epochs() == [0, 1]

    # force the zero-data-file shape deterministically (Spark versions
    # differ on whether an empty write leaves a schema-only part file):
    # drop every data file, keep the _SUCCESS commit markers
    for f in glob.glob(os.path.join(ckpt, "partials", "epoch=*", "*")):
        if not os.path.basename(f).startswith(("_", ".")):
            os.remove(f)
    assert [
        f
        for _, _, fl in commit.committed_dirs(
            spark, os.path.join(ckpt, "partials"), "epoch"
        )
        for f in fl
    ] == []

    lin = job.lineage()
    assert lin.count() == 0
    for col in ("digest", "n_rows", "total_weight", "partition_id",
                "wall_started", "epoch", "l_returnflag"):
        assert col in lin.columns, col
    assert job.merged().count() == 0
    assert job.metrics().count() == 0

    # 'no committed epochs at all' still raises
    job2 = _digest_job(spark, src, str(tmp_path / "ckpt_none"), n_epochs=2)
    with pytest.raises(FileNotFoundError):
        job2.merged()


def test_stateful_stream_names_override(spark):
    """names= keeps pinned downstream schemas stable across the
    repr-based default renaming (ADVICE r4); length mismatch raises."""
    from go_tdigest_spark.streaming import tdigest_stateful_stream

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .selectExpr("CAST(value AS DOUBLE) v", "CAST(value % 3 AS STRING) k")
    )
    out = tdigest_stateful_stream(
        stream, "v", "k", quantiles=(0.5, 0.9999995), names=("p50", "ptail")
    )
    assert out.columns == ["key", "total", "p50", "ptail"]
    # default: exact-roundtrip repr naming (no 6-digit collision)
    out2 = tdigest_stateful_stream(stream, "v", "k", quantiles=(0.5, 0.9999995))
    assert out2.columns == ["key", "total", "q0_5", "q0_9999995"]
    with pytest.raises(ValueError, match="names has"):
        tdigest_stateful_stream(stream, "v", "k", quantiles=(0.5,), names=("a", "b"))


def test_streaming_digests(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "stream_ckpt")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    li.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("l_returnflag string, l_extendedprice double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        tdigest_stream_writer(
            stream, "l_extendedprice", ["l_returnflag"], state, ckpt
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = read_stream_digests(spark, state, ["l_returnflag"]).toPandas()
    expect = (
        li.groupBy("l_returnflag")
        .agg(F.count("l_extendedprice").alias("n"))
        .toPandas()
        .set_index("l_returnflag")["n"]
    )
    assert len(merged) == len(expect)
    for _, row in merged.iterrows():
        d = serde.decode(bytes(row["digest"]))
        assert d.count == expect[row["l_returnflag"]]

    # state table carries batch lineage
    state_df = spark.read.parquet(state)
    assert state_df.select("batch_id").distinct().count() >= 2


def test_stateful_streaming(spark, tmp_path):
    from go_tdigest_spark.streaming import tdigest_stateful_stream

    src = str(tmp_path / "sf_src")
    ckpt = str(tmp_path / "sf_ckpt")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    li.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("l_returnflag string, l_extendedprice double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    out = tdigest_stateful_stream(
        stream, "l_extendedprice", "l_returnflag", quantiles=(0.5, 0.99)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sf_digests")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    res = spark.sql(
        "SELECT key, max(total) AS total FROM sf_digests GROUP BY key"
    ).toPandas()
    expect = (
        li.groupBy("l_returnflag").count().toPandas().set_index("l_returnflag")["count"]
    )
    assert len(res) == len(expect)
    for _, row in res.iterrows():
        assert row["total"] == expect[row["key"]]
    # per-key quantile estimates in the final updates are sane
    last = spark.sql(
        "SELECT * FROM sf_digests WHERE total IN (SELECT max(total) FROM sf_digests GROUP BY key)"
    ).toPandas()
    assert (last["q0_5"] < last["q0_99"]).all()


def test_udtfs(spark):
    from go_tdigest_spark.functions import register_udtfs
    from go_tdigest_spark.operators import tdigest_agg

    register_udtfs(spark)
    li = table(spark, SF_TINY, "lineitem")
    tdigest_agg(li, "l_extendedprice", by=["l_returnflag"]).createOrReplaceTempView(
        "udtf_digests"
    )
    rows = spark.sql(
        """
        SELECT d.l_returnflag, t.idx, t.mean, t.count, t.cum_count
        FROM udtf_digests d, LATERAL td_centroids_t(d.digest) t
        """
    ).toPandas()
    totals = rows.groupby("l_returnflag")["count"].sum()
    weights = {
        r["l_returnflag"]: r["total_weight"]
        for r in spark.table("udtf_digests").collect()
    }
    for flag, total in totals.items():
        assert total == weights[flag]
    # cum_count is a proper running sum
    g = rows[rows["l_returnflag"] == rows["l_returnflag"].iloc[0]].sort_values("idx")
    assert (g["cum_count"].to_numpy() == g["count"].cumsum().to_numpy()).all()

    prof = spark.sql(
        """
        SELECT d.l_returnflag, t.q, t.value
        FROM udtf_digests d, LATERAL td_quantile_table(d.digest, 0.0D, 1.0D, 11) t
        """
    ).toPandas()
    assert len(prof) == 11 * len(weights)
    for _, grp in prof.groupby("l_returnflag"):
        vals = grp.sort_values("q")["value"].to_numpy()
        assert (np.diff(vals) >= 0).all()


def test_windowed_streaming(spark, tmp_path):
    from go_tdigest_spark.streaming import (
        read_windowed_digests,
        tdigest_windowed_stream_writer,
    )

    src = str(tmp_path / "w_src")
    state = str(tmp_path / "w_state")
    ckpt = str(tmp_path / "w_ckpt")
    ev = table(spark, SF_TINY, "events").select("ts", "event_type", "value")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        tdigest_windowed_stream_writer(
            stream, "value", "ts", ["event_type"], state, ckpt,
            window_duration="1 hour",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    merged = read_windowed_digests(spark, state, ["event_type"]).toPandas()
    expect = (
        ev.withColumn("window_start", F.window("ts", "1 hour").start)
        .groupBy("window_start", "event_type")
        .agg(
            F.count("value").alias("n"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .toPandas()
        .set_index(["window_start", "event_type"])
    )
    assert len(merged) == len(expect)
    for _, row in merged.iterrows():
        d = serde.decode(bytes(row["digest"]))
        e = expect.loc[(row["window_start"], row["event_type"])]
        assert d.count == e["n"]
        assert d.quantile(0.0) == e["mn"] and d.quantile(1.0) == e["mx"]
    # multiple triggers contributed partials to the same windows and
    # merge-on-read resolved them (late-data-safe by construction)
    n_batches = spark.read.parquet(state).select("batch_id").distinct().count()
    assert n_batches >= 2


def test_stream_read_ignores_uncommitted_batches(spark, tmp_path):
    """A batch_id directory without _SUCCESS (mid-overwrite during a
    crash replay) must be invisible to readers."""
    from go_tdigest_spark.operators.aggregate import build_partials

    state = str(tmp_path / "state")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    partials = build_partials(li, "l_extendedprice", ["l_returnflag"])
    partials.write.parquet(f"{state}/batch_id=0")
    partials.write.parquet(f"{state}/batch_id=1")

    total = table(spark, SF_TINY, "lineitem").count()
    both = read_stream_digests(spark, state, ["l_returnflag"]).toPandas()
    assert int(both["n_rows"].sum()) == 2 * total

    # simulate the torn batch: commit marker gone, data files present
    os.remove(os.path.join(state, "batch_id=1", "_SUCCESS"))
    committed = read_stream_digests(spark, state, ["l_returnflag"]).toPandas()
    assert int(committed["n_rows"].sum()) == total

    os.remove(os.path.join(state, "batch_id=0", "_SUCCESS"))
    with pytest.raises(FileNotFoundError):
        read_stream_digests(spark, state, ["l_returnflag"])


def test_checkpoint_manifest_pins_input_listing(spark, tmp_path):
    """Resume after the input listing changed must fail loudly — a
    re-derived file-to-epoch split would silently double-count or drop
    slices of committed epochs."""
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "input")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    li.repartition(8).write.parquet(src)

    job = _digest_job(spark, src, ckpt, n_epochs=4)
    job.run(max_epochs=2)  # "crash" after two committed epochs

    # input mutates between crash and resume
    li.limit(10).write.mode("append").parquet(src)
    job2 = _digest_job(spark, src, ckpt, n_epochs=4)
    with pytest.raises(ValueError, match="diverged"):
        job2.run(resume=True)

    # a different n_epochs on resume is also a config error
    job3 = _digest_job(spark, src, ckpt, n_epochs=8)
    with pytest.raises(ValueError, match="n_epochs"):
        job3.run(resume=True)


def _ref_simhash(text: str, seed: int = 11) -> int:
    """Pure-Python transcription of the SimHash definition (poly hash ->
    splitmix64 -> majority vote over distinct words)."""
    import re

    # the library-wide tokenization rule: lowercase, ASCII-\s+ split,
    # empties dropped (mirrors dedup.py_words independently)
    words = {
        w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w
    }
    if not words:
        return 0
    mask = (1 << 64) - 1
    votes = [0] * 64
    for w in words:
        h = _ref_poly_hash(w, 1_000_000_007)
        h = (h + seed * 0x9E3779B97F4A7C15) & mask
        h = ((h ^ (h >> 30)) * 0xBF58476D1CE4E5B9) & mask
        h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & mask
        h = h ^ (h >> 31)
        for k in range(64):
            votes[k] += 1 if (h >> k) & 1 else -1
    sig = 0
    for k in range(64):
        if votes[k] >= 0:
            sig |= 1 << k
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def _ref_poly_hash(s: str, mod: int) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % mod
    return h


def test_simhash_golden_vs_python_reference(spark, docs):
    """The vectorized SimHash must be bit-identical to a direct pure-
    Python transcription of the definition (poly hash -> splitmix64 ->
    majority vote) — pins the batch kernel against drift."""
    got = {
        r["doc"]: int(r["simhash"])
        for r in simhash_signatures(docs, "text", "doc_id").collect()
    }
    expect = {
        r["doc_id"]: _ref_simhash(r["text"]) for r in docs.collect()
    }
    assert got == expect


def _ref_text_kernel(kernel: str, doc: int, text: str, n: int) -> list[tuple]:
    """Pure-Python rows of one text kernel for one non-NULL doc."""
    from collections import Counter

    from go_tdigest_spark.operators.dedup import (
        FP_MOD,
        MH_PRIME,
        SH_MOD,
        minhash_params,
        py_shingles,
    )

    if kernel == "simhash":
        return [(doc, _ref_simhash(text))]
    grams = py_shingles(text, n)
    if not grams:
        return []
    sh = [_ref_poly_hash(g, SH_MOD) for g in grams]
    if kernel == "shingle":
        return [(doc, h) for h in set(sh)]
    if kernel == "positional":
        return [(doc, i, h) for i, h in enumerate(sh)]
    if kernel == "repetition":
        c = Counter(sh)
        return [(doc, len(sh), len(c), max(c.values()))]
    fp = [_ref_poly_hash(g, FP_MOD) for g in grams]
    a, b = minhash_params(16, 7)
    return [(doc, tuple(min((x * h + y) % MH_PRIME for h in fp) for x, y in zip(a, b)))]


def _row_kernel_case(spark, kernel: str):
    """(input, kernel call, id column, ids out) of one row-wise kernel on
    int32 ids in one partition, in id order.  NULL payloads and vectors
    are dropped before batching, so 2-row batches pair the zero-norm
    vectors 2 and 3: that batch selects no row."""
    from go_tdigest_spark.operators import ivf_assign, lsh_features
    from go_tdigest_spark.operators.ann import cosine_rerank

    if kernel in ("text_features", "binary", "media", "frame"):
        texts = [None, "", "", "The cat, and the dog.", None, "東京 x", "a\x0bb", ""]
        rows = [(i + 1, t, f"s{i % 2}") for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id int, text string, src string")
        df = df.withColumn("payload", F.encode("text", "utf-8")).coalesce(1)
        ids = [i for i, t, _ in rows if t is not None]
        if kernel == "text_features":
            run = lambda d: T.text_features(d, "text", "doc_id", ("src",))  # noqa: E731
            return df, run, "doc_id", ids
        fn = {
            "binary": binary_features,
            "media": lambda d, b, i: decode_media(d, b, i, fake=True),
            "frame": lambda d, b, i: frame_sample(d, b, i, stride=2),
        }[kernel]
        return df, lambda d: fn(d, "payload", "doc_id"), "doc", ids
    z, v = [0.0] * 4, [1.0, -2.0, 0.5, 3.0]
    vecs = [None, z, z, v, v[::-1], z, None, [-x for x in v], z[:3] + [1.0], z]
    rows = [(i + 1, x) for i, x in enumerate(vecs)]
    df = spark.createDataFrame(rows, "doc_id int, v array<double>").coalesce(1)
    ids = [i for i, x in rows if x is not None and x != z]
    if kernel == "lsh":
        return df, lambda d: lsh_features(d, "v", "doc_id", 3, 4), "nn_id", ids
    if kernel == "ivf":
        cells = np.eye(4)[:3]
        return df, lambda d: ivf_assign(d, "v", "doc_id", cells), "nn_id", ids
    pairs = spark.createDataFrame(
        [(a, b, v, x, 2.0, 3.0) for a, b, x in ((1, 2, v), (2, 3, v[::-1]), (3, 4, z))],
        "a int, b int, va array<double>, vb array<double>, na double, nb double",
    ).coalesce(1)
    return (
        pairs,
        lambda d: cosine_rerank(d, ["a", "b"], "va", "vb", "na", "nb", 4),
        "a",
        [1, 2, 3],
    )


@pytest.mark.parametrize(
    "kernel",
    [
        "shingle", "positional", "repetition", "minhash", "simhash",
        "text_features", "binary", "media", "frame", "lsh", "ivf", "cosine",
    ],
)
def test_text_kernels_edge_rows_vs_python(spark, kernel):
    """Every Arrow text kernel on hostile rows, int32 ids and 2-row Arrow
    batches (so whole batches hold no grams): rows equal a pure-Python
    reference (py_shingles + a per-gram polynomial hash), the id keeps
    its int32 type, NULL text emits nothing, and SimHash emits one row
    per non-NULL doc (0 when it has no words) where the others emit
    nothing for a doc without grams.

    The other row-wise kernels (text features, the multimodal kernels,
    the LSH and IVF vector codes, the cosine re-rank) run on NULL
    payloads and vectors, zero-norm vectors and empty text: with 2-row
    batches their rows equal a default-batch run, the id keeps its int32
    type, and NULL payloads and NULL or zero-norm vectors emit nothing
    (one batch selects no row)."""
    from pyspark.sql.types import IntegerType

    from go_tdigest_spark.operators import (
        positional_shingle_hashes,
        repetition_stats,
        shingle_hashes,
    )

    def canon(out):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in out.collect()
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if kernel not in ("shingle", "positional", "repetition", "minhash", "simhash"):
        df, run, id_col, ids = _row_kernel_case(spark, kernel)
        want = canon(run(df))
        spark.conf.set(key, "2")
        try:
            out = run(df)
            assert out.schema[id_col].dataType == IntegerType()
            got = canon(out)
        finally:
            spark.conf.set(key, old)
        assert got == want
        assert sorted(r[out.columns.index(id_col)] for r in got) == ids
        return
    fn = {
        "shingle": shingle_hashes,
        "positional": positional_shingle_hashes,
        "repetition": repetition_stats,
        "minhash": lambda df, t, i, n: minhash_signatures(df, t, i, n=n),
        "simhash": lambda df, t, i, n: simhash_signatures(df, t, i),
    }[kernel]
    rows = [
        (1, None), (2, ""), (3, " \t\n "), (4, "one"), (5, "a\x0bb c"),
        (6, "Grüße  ÉCOLE naïve 東京 tokyo"), (7, "a b a b a b a"), (8, None),
        (9, "\x0b"), (10, "x"), (11, "Z z Z z Z"), (12, "the end"),
    ]
    # one partition in row order: the 2-row batches (2, 3) and (9, 10)
    # hold no grams at n=2
    df = spark.createDataFrame(rows, "doc_id int, text string").coalesce(1)
    spark.conf.set(key, "2")
    try:
        for n in (1, 2, 3) if kernel != "simhash" else (1,):
            out = fn(df, "text", "doc_id", n)
            assert out.schema["doc"].dataType == IntegerType()
            got = canon(out)
            want = sorted(
                r for d, t in rows if t is not None
                for r in _ref_text_kernel(kernel, d, t, n)
            )
            assert got == want, (kernel, n)
        if kernel == "simhash":
            assert len(got) == sum(t is not None for _, t in rows)
    finally:
        spark.conf.set(key, old)


def test_row_kernels_pass_any_column_name(spark):
    """Pass-through columns keep their input field whatever their name: a
    name that is not a DDL identifier (a space in it) comes back with
    its type from text features' ``extra_cols`` and the re-rank's
    ``keep_cols``."""
    from pyspark.sql.types import ShortType, StringType

    from go_tdigest_spark.operators.ann import cosine_rerank

    df = spark.createDataFrame(
        [(1, "the cat", "web", 3), (2, "a dog", "books", 4)],
        "id int, text string, `src name` string, `n chars` smallint",
    )
    out = T.text_features(df, "text", "id", extra_cols=("src name", "n chars"))
    assert out.schema["src name"].dataType == StringType()
    assert out.schema["n chars"].dataType == ShortType()
    assert sorted(r["src name"] for r in out.collect()) == ["books", "web"]

    pairs = spark.createDataFrame(
        [(1, 2, [1.0, 0.0], [1.0, 0.0], 1.0, 1.0)],
        "`a id` smallint, `b id` smallint, va array<double>, vb array<double>, "
        "na double, nb double",
    )
    cos = cosine_rerank(pairs, ["a id", "b id"], "va", "vb", "na", "nb", 2)
    assert cos.schema["a id"].dataType == ShortType()
    assert [tuple(r) for r in cos.collect()] == [(1, 2, 1.0)]


# Output schema of every row-wise kernel; ``{id}`` is the input id's
# nullability: pass-through columns keep their input field, new columns
# are nullable unless the kernel declares otherwise.
_ROW_KERNEL_SCHEMAS = {
    "text_features": "doc_id BIGINT{id}, n_tokens INT, lang_guess STRING, "
    "fingerprint BIGINT, source STRING, quality DOUBLE",
    "binary_features": "doc BIGINT{id}, n_bytes BIGINT, checksum BIGINT, "
    "head_byte INT, tail_byte INT",
    "decode_media": "doc BIGINT{id}, width INT, height INT, channels INT",
    "frame_sample": "doc BIGINT{id}, frames BINARY",
    "lsh_features": "nn_id BIGINT{id}, cvec ARRAY<FLOAT>, cnrm DOUBLE, "
    "bucket BIGINT",
    "ivf_assign": "cell INT, nn_id BIGINT{id}, cvec ARRAY<FLOAT>, cnrm DOUBLE",
    "cosine_rerank": "qa BIGINT{id}, qb BIGINT{id}, _cos_raw DOUBLE",
    "shingle_hashes": "doc BIGINT{id}, s BIGINT",
    "positional_shingle_hashes": "doc BIGINT{id}, pos BIGINT, g BIGINT",
    "repetition_stats": "doc BIGINT{id}, n_grams BIGINT, n_distinct BIGINT, "
    "top_count BIGINT",
    "minhash_signatures": "doc BIGINT{id}, sig ARRAY<BIGINT>",
    "simhash_signatures": "doc BIGINT{id}, simhash BIGINT",
    "sample_fraction": "doc_id BIGINT{id}, text STRING, source STRING, "
    "vec ARRAY<FLOAT>",
    "sample_split": "doc_id BIGINT{id}, text STRING, source STRING, "
    "vec ARRAY<FLOAT>, split STRING NOT NULL",
}


def test_row_kernel_output_schemas(spark):
    """The schema rule of the row-wise pass, pinned per kernel on a
    parquet input (every column nullable: the schemas the DDL-string
    kernels declared) and on a ``spark.range`` id, which is not
    nullable and stays so in every pass-through id column."""
    from pyspark.sql.types import _parse_datatype_string

    from go_tdigest_spark.operators import (
        ivf_assign,
        lsh_features,
        positional_shingle_hashes,
        repetition_stats,
        sample_fraction,
        sample_split,
        shingle_hashes,
    )
    from go_tdigest_spark.operators.ann import cosine_rerank

    docs = table(spark, SF_TINY, "documents").limit(64)
    emb = table(spark, SF_TINY, "embeddings").limit(64)
    parquet = docs.select("doc_id", "text", "source").join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")),
        "doc_id",
    )
    # every column but the id nullable, as in the parquet input
    word = F.concat(F.lit("w"), (F.col("id") % 7).cast("string"))
    ranged = spark.range(64).select(
        F.col("id").alias("doc_id"),
        *[
            F.when(F.col("id") >= 0, c).cast(t).alias(name)
            for name, t, c in (
                ("text", "string", F.concat_ws(" ", word, word, F.lit("x"))),
                ("source", "string", F.col("id") % 3),
                ("vec", "array<float>", F.array(*[F.col("id") + j for j in range(64)])),
            )
        ],
    )
    cells = np.eye(64)[:4]
    kernels = {
        "text_features": lambda d: T.text_features(d, "text", "doc_id", ("source",)),
        "binary_features": lambda d: binary_features(d, "payload", "doc_id"),
        "decode_media": lambda d: decode_media(d, "payload", "doc_id", fake=True),
        "frame_sample": lambda d: frame_sample(d, "payload", "doc_id"),
        "lsh_features": lambda d: lsh_features(d, "vec", "doc_id", 4, 64),
        "ivf_assign": lambda d: ivf_assign(d, "vec", "doc_id", cells),
        "cosine_rerank": lambda d: cosine_rerank(
            d.select(
                F.col("doc_id").alias("qa"), F.col("vec").alias("va"),
                F.lit(1.0).alias("na"),
            ).join(
                d.select(
                    F.col("doc_id").alias("qb"), F.col("vec").alias("vb"),
                    F.lit(1.0).alias("nb"),
                ),
                F.col("qa") < F.col("qb"),
            ),
            ["qa", "qb"], "va", "vb", "na", "nb", 64,
        ),
        "shingle_hashes": lambda d: shingle_hashes(d, "text", "doc_id", 2),
        "positional_shingle_hashes": lambda d: positional_shingle_hashes(
            d, "text", "doc_id", 2
        ),
        "repetition_stats": lambda d: repetition_stats(d, "text", "doc_id", 2),
        "minhash_signatures": lambda d: minhash_signatures(d, "text", "doc_id"),
        "simhash_signatures": lambda d: simhash_signatures(d, "text", "doc_id"),
        "sample_fraction": lambda d: sample_fraction(
            d.drop("payload"), "doc_id", 0.5
        ),
        "sample_split": lambda d: sample_split(
            d.drop("payload"), "doc_id", {"a": 0.5, "b": 0.5}
        ),
    }
    for df, nullity in ((parquet, ""), (ranged, " NOT NULL")):
        df = df.withColumn("payload", F.encode("text", "utf-8"))
        for name, run in kernels.items():
            want = _parse_datatype_string(
                _ROW_KERNEL_SCHEMAS[name].format(id=nullity)
            )
            assert run(df).schema.json() == want.json(), (name, nullity)
    one = kernels["text_features"](ranged)
    assert one.count() == 64 and one.where(F.col("doc_id").isNull()).count() == 0


def test_embedding_block_matrix_distributed(spark):
    """The exact pair kernel must (a) give identical results at any
    block count and (b) never collect the corpus to the driver."""
    from go_tdigest_spark.operators import embedding_similar_pairs

    rng = np.random.default_rng(7)
    base = rng.standard_normal((120, 16)).astype(np.float32)
    base[11] = base[10] + 0.01 * rng.standard_normal(16).astype(np.float32)
    base[57] = base[56] + 0.02 * rng.standard_normal(16).astype(np.float32)
    base[80] = 0.0  # zero vector must be dropped, not NaN
    pdf = pd.DataFrame(
        {"vec_id": range(120), "embedding": [list(map(float, v)) for v in base]}
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

    def canon(res):
        return sorted(map(tuple, res.toPandas().itertuples(index=False)))

    one = canon(embedding_similar_pairs(df, "embedding", "vec_id", 0.9, n_blocks=1))
    four = canon(embedding_similar_pairs(df, "embedding", "vec_id", 0.9, n_blocks=4))
    seven = canon(embedding_similar_pairs(df, "embedding", "vec_id", 0.9, n_blocks=7))
    assert one == four == seven
    got = {(a, b) for a, b, _ in one}
    assert (10, 11) in got and (56, 57) in got

    # exact truth from numpy
    mat = base.astype(np.float64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    keep = nrm > 0
    unit = mat[keep] / nrm[keep][:, None]
    ids = np.arange(120)[keep]
    sims = np.round(unit @ unit.T, 4)
    ii, jj = np.nonzero((sims >= 0.9) & (ids[None, :] > ids[:, None]))
    expect = sorted(
        (int(ids[i]), int(ids[j]), float(sims[i, j])) for i, j in zip(ii, jj)
    )
    assert one == expect


def test_lsh_features_buckets_match_expression_form(spark):
    """Vectorized matmul signatures must agree with the interpreted
    expression twin (golden parity on real embedding data)."""
    from go_tdigest_spark.operators.ann import lsh_features, lsh_signature_col

    emb = table(spark, SF_TINY, "embeddings")
    vec = emb.select(
        "vec_id", lsh_signature_col("embedding", 8, 64).alias("bucket")
    ).toPandas().set_index("vec_id")["bucket"]
    fast = (
        lsh_features(emb, "embedding", "vec_id", 8, 64)
        .select("nn_id", "bucket")
        .toPandas()
        .set_index("nn_id")["bucket"]
    )
    assert len(fast) > 0
    assert (vec.loc[fast.index] == fast).all()


def test_embedding_lsh_neardup_recall(spark):
    """LSH-bucketed near-dup must find the planted high-cosine pairs the
    exact operator finds (recall pinned, not assumed)."""
    from go_tdigest_spark.operators import (
        embedding_lsh_neardup,
        embedding_similar_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((100, 64)).astype(np.float32)
    for i in range(0, 30, 2):  # 15 planted near-dup pairs
        base[i + 1] = base[i] + 0.05 * rng.standard_normal(64).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": range(100), "embedding": [list(map(float, v)) for v in base]}
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

    exact = embedding_similar_pairs(df, "embedding", "vec_id", 0.95).toPandas()
    approx = embedding_lsh_neardup(
        df, "embedding", "vec_id", threshold=0.95, n_planes=32, dim=64, bands=4
    ).toPandas()
    e = {(a, b) for a, b, _ in exact.itertuples(index=False)}
    g = {(a, b) for a, b, _ in approx.itertuples(index=False)}
    assert len(e) >= 15
    assert g <= e  # verification: no false positives vs exact semantics
    assert len(g & e) / len(e) >= 0.8  # banded recall on near-identical pairs

    # bands are validated as on the MinHash paths, not by a
    # ZeroDivisionError (0) or a negative shift count (-4)
    for bands in (0, -4):
        with pytest.raises(ValueError, match="bands must divide"):
            embedding_lsh_neardup(
                df, "embedding", "vec_id", n_planes=32, dim=64, bands=bands
            )


def _banded_join_inputs(df):
    """Column names of both inputs of every join on ``band`` in the
    optimized plan of ``df``."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    inputs, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        kids = seq(node.children())
        if node.nodeName() == "Join" and "band" in node.condition().toString():
            inputs += [{a.name() for a in seq(k.output())} for k in kids]
        todo += kids
    return inputs


@pytest.mark.parametrize("path", ["minhash", "vs_index", "simhash", "embedding"])
def test_banded_lsh_paths(spark, docs, path):
    """The four banded-LSH operators share one candidate join: a bucket
    cap of 0 empties the result with its columns intact, a cap at or
    above the corpus size changes nothing, and the banded join's inputs
    carry ids and bucket keys only (SimHash may carry its signature)."""
    from go_tdigest_spark.operators import (
        embedding_lsh_neardup,
        lsh_pairs_vs_index,
        release_dedup_caches,
    )
    from go_tdigest_spark.operators.dedup import lsh_pairs_from_sigs

    sig = lambda d: minhash_signatures(d, "text", "doc_id", n=2, n_hashes=16)
    shard = F.col("doc_id").isin(1, 4, 7)
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((24, 16))
    vecs[1::2] = vecs[::2] + 0.02 * rng.standard_normal((12, 16))
    emb = [(i, list(map(float, v))) for i, v in enumerate(vecs)]
    run, cols, n_rows, payload = {
        "minhash": (
            lambda cap: lsh_pairs_from_sigs(
                sig(docs), 16, 4, threshold=0.3, max_bucket_size=cap
            ),
            ["doc_a", "doc_b", "est_jaccard"], 8, set(),
        ),
        "vs_index": (
            lambda cap: lsh_pairs_vs_index(
                sig(docs.where(shard)), sig(docs.where(~shard)), 16, 4,
                threshold=0.3, max_bucket_size=cap,
            ),
            ["doc_new", "doc_idx", "est_jaccard"], 8, set(),
        ),
        "simhash": (
            lambda cap: simhash_candidate_pairs(
                simhash_signatures(docs, "text", "doc_id"),
                max_hamming=16, max_bucket_size=cap,
            ),
            ["doc_a", "doc_b", "hamming"], 8, {"simhash"},
        ),
        "embedding": (
            lambda cap: embedding_lsh_neardup(
                spark.createDataFrame(emb, "vec_id long, embedding array<float>"),
                "embedding", "vec_id", threshold=0.9, n_planes=16,
                dim=16, bands=4, max_bucket_size=cap,
            ),
            ["doc_a", "doc_b", "cosine"], 24, set(),
        ),
    }[path]

    uncapped = run(None)
    want = sorted(tuple(r) for r in uncapped.collect())
    assert want  # a vacuous equality would prove nothing
    assert sorted(tuple(r) for r in run(n_rows).collect()) == want
    empty = run(0)
    assert empty.columns == cols and empty.count() == 0

    inputs = _banded_join_inputs(uncapped)
    assert len(inputs) == 2
    for names in inputs:
        extra = {c for c in names if not re.fullmatch(r"doc|band|k\d+", c)}
        assert extra <= payload, extra
    release_dedup_caches()


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def test_read_table_parquet_path(spark, tmp_path):
    """The source layer is format-parameterized; parquet exercises the
    full scan path (and a missing iceberg runtime raises a clear error
    instead of an opaque ClassNotFound)."""
    from go_tdigest_spark.sources import read_table

    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    p = str(tmp_path / "t.parquet")
    li.write.parquet(p)
    back = read_table(spark, p, fmt="parquet")
    assert back.count() == li.count()

    if not _iceberg_available(spark):
        with pytest.raises(Exception):
            read_table(spark, "nocat.db.t", fmt="iceberg")


def test_read_table_iceberg(spark):
    """Runs iff the iceberg-spark-runtime jar is present (the sandbox
    ships none — skip, not fake)."""
    from go_tdigest_spark.sources import read_table

    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath")
    ice = read_table(spark, "local.db.lineitem", fmt="iceberg")
    assert ice.count() >= 0


def test_text_nulls_consistent_with_oracle_contract(spark):
    """text_features drops NULL-text rows; the driver oracles must state
    the same filter (they do — static check) so the contract never rests
    on fixtures happening to contain no NULLs."""
    import __spark_entry__ as entry

    rows = [(0, "the and of it", "web"), (1, None, "web"), (2, "x", "code")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    feats = T.text_features(df, "text", "doc_id", extra_cols=("source",))
    assert feats.count() == 2  # NULL text excluded
    assert "text IS NOT NULL" in entry.oracle_sql()["text_stats"]

    with pytest.raises(ValueError, match="collide"):
        T.text_features(df, "text", "doc_id", extra_cols=("fingerprint",))
    with pytest.raises(ValueError, match="collide"):
        T.text_features(df, "text", "doc_id", extra_cols=("source", "source"))


def test_corrupt_manifest_fails_with_guidance(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "input")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    li.repartition(2).write.parquet(src)
    os.makedirs(ckpt, exist_ok=True)
    with open(os.path.join(ckpt, "manifest.json"), "w") as f:
        f.write('{"n_epochs": 2, "epo')  # torn write
    job = _digest_job(spark, src, ckpt, n_epochs=2)
    with pytest.raises(ValueError, match="corrupt checkpoint manifest"):
        job.run()


def test_stream_merge_tree_sized_by_partial_count(spark, tmp_path):
    """Partials read from storage pack many rows per scan partition —
    the merge tree must size itself by partial COUNT (salted levels
    appear even when the scan has few partitions) and stay exact."""
    from go_tdigest_spark.operators.aggregate import build_partials

    state = str(tmp_path / "state")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    for b in range(3):
        build_partials(li.repartition(16), "l_extendedprice", ["l_returnflag"]) \
            .coalesce(1).write.parquet(f"{state}/batch_id={b}")

    merged = read_stream_digests(spark, state, ["l_returnflag"], fanin=4)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    # 3 batches x 16 partitions x up-to-3 groups of partials arrive in a
    # couple of scan partitions; count-based sizing must still insert
    # salted levels ahead of the final merge
    from test_spark_agg import _n_merge_levels

    assert _n_merge_levels(plan) >= 3

    out = merged.toPandas()
    total = li.count()
    assert int(out["n_rows"].sum()) == 3 * total
    expect = {
        r["l_returnflag"]: (r["mn"], r["mx"])
        for r in li.groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx"))
        .collect()
    }
    for _, row in out.iterrows():
        d = serde.decode(bytes(row["digest"]))
        mn, mx = expect[row["l_returnflag"]]
        assert d.quantile(0.0) == mn and d.quantile(1.0) == mx


def test_sketch_streaming_hll(spark, tmp_path):
    """Streaming distinct counts: HLL partials appended per trigger,
    merged on read over committed batches only — the whole sketch family
    rides the same append-partials shape as the t-digest stream."""
    from go_tdigest_spark.operators import hll_partials
    from go_tdigest_spark.sketches import HLL
    from go_tdigest_spark.streaming import (
        read_stream_sketches,
        sketch_stream_writer,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_TINY, "events").select("event_type", "user_id")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        sketch_stream_writer(
            stream,
            lambda b: hll_partials(b, ["user_id"], ["event_type"]),
            state,
            ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = read_stream_sketches(
        spark, state, ["event_type"], HLL.from_bytes
    ).toPandas().set_index("event_type")
    truth = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"), F.count("*").alias("n"))
        .toPandas()
        .set_index("event_type")
    )
    assert len(merged) == len(truth)
    assert (merged["n_rows"].sort_index() == truth["n"].sort_index()).all()
    for et, row in merged.iterrows():
        est = HLL.from_bytes(bytes(row["sketch"])).estimate()
        assert abs(est - truth.loc[et]["d"]) / truth.loc[et]["d"] <= 0.05

    # torn batch is invisible
    import glob

    some = sorted(glob.glob(f"{state}/batch_id=*/_SUCCESS"))[0]
    os.remove(some)
    merged2 = read_stream_sketches(
        spark, state, ["event_type"], HLL.from_bytes
    ).toPandas()
    assert int(merged2["n_rows"].sum()) < int(truth["n"].sum())


def test_tokenization_parity_on_hostile_whitespace(spark):
    """Constructed boundary cases (not fixture coincidence): leading
    newlines/tabs, repeated whitespace, whitespace-only and empty docs,
    and a unicode NBSP (which no engine's ASCII \\s splits) must produce
    IDENTICAL results from the Python kernels, the Spark expression
    frags, and the DuckDB oracle frags."""
    import duckdb

    from go_tdigest_spark.operators.dedup import (
        minhash_signature_sql,
        minhash_signatures,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_sql,
    )

    rows = [
        (0, "the quick brown fox jumps high"),
        (1, "\nthe quick brown fox jumps high"),      # leading newline
        (2, "\t the  quick\tbrown fox jumps high  "), # mixed runs
        (3, "the quick brown fox jumps high"),   # NBSP: ONE token 'the\xa0quick'
        (4, "   "),                                   # whitespace-only
        (5, ""),                                      # empty
        (6, "THE QUICK brown fox JUMPS high"),        # case folding
        (7, "a\vb the of, in. is!"),  # \v: in Python/Java \s, NOT RE2 \s
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pdf)

    # minhash signatures: docs 0,1,2,6 identical; 3 different; 4,5 absent
    got = {
        r["doc"]: tuple(r["sig"])
        for r in minhash_signatures(df, "text", "doc_id", n=2, n_hashes=8).collect()
    }
    want = {
        r[0]: tuple(r[1])
        for r in con.execute(
            minhash_signature_sql("documents", "text", "doc_id", n=2, n_hashes=8)
        ).fetchall()
    }
    assert got == want
    assert set(got) == {0, 1, 2, 3, 6, 7}
    assert got[0] == got[1] == got[2] == got[6] != got[3]

    # inverted-index jaccard: full pair matrix matches the SQL twin
    got_pairs = {
        (a, b): j
        for a, b, j in ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.0, max_doc_freq=None
        ).collect()
    }
    want_pairs = {
        (a, b): j
        for a, b, j in con.execute(
            ngram_jaccard_pairs_sql(
                "documents", "text", "doc_id", n=2, threshold=0.0,
                max_doc_freq=None,
            )
        ).fetchall()
    }
    assert got_pairs == want_pairs
    assert got_pairs[(0, 1)] == 1.0 and got_pairs[(0, 6)] == 1.0
    assert got_pairs[(0, 3)] < 1.0

    # text features: token counts / quality / fingerprint per doc
    import __spark_entry__ as entry  # noqa: F401  (frag imports below)
    from go_tdigest_spark.functions import text as T

    feats = (
        T.text_features(df, "text", "doc_id")
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    oracle = con.execute(
        f"""
        SELECT doc_id,
               {T.token_count_frag_duck('text')} AS n_tokens,
               {T.lang_id_frag('text', 'duck')} AS lang_guess,
               {T.fingerprint_frag('text', 'duck')} AS fingerprint,
               {T.quality_score_frag('text', 'duck')} AS quality
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id
        """
    ).fetch_df().set_index("doc_id")
    for c in ("n_tokens", "lang_guess", "fingerprint"):
        assert list(feats[c]) == list(oracle[c]), c
    assert np.allclose(feats["quality"], oracle["quality"])


def test_lsh_bucket_capping_drops_hot_buckets(spark):
    """A cluster of identical docs forms one giant band bucket; with a
    cap the quadratic candidate explosion disappears while distinct
    near-dup pairs elsewhere survive."""
    from go_tdigest_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "same boilerplate text repeated everywhere always", "w")
            for i in range(40)]
    rows += [
        (100, "a unique document about distributed sketches", "w"),
        (101, "a unique document about distributed sketches", "w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    uncapped = minhash_lsh_pairs(
        df, "text", "doc_id", n=2, n_hashes=16, bands=4, threshold=0.9
    ).count()
    assert uncapped >= (40 * 39) // 2  # the hot cluster explodes

    capped = minhash_lsh_pairs(
        df, "text", "doc_id", n=2, n_hashes=16, bands=4, threshold=0.9,
        max_bucket_size=10,
    ).toPandas()
    got = {(a, b) for a, b, _ in capped.itertuples(index=False)}
    assert (100, 101) in got  # small buckets unaffected
    assert not any(a < 100 and b < 100 for a, b in got)  # hot bucket gone


def test_cosine_rerank_kernel_matches_expression_twin(spark):
    """The shared Arrow-batch re-rank kernel accumulates the dot product
    in the same left-to-right per-dimension order as the interpreted
    aggregate(zip_with(...)) expression, so raw cosines must be
    BIT-IDENTICAL (==, not allclose) on real embedding pairs."""
    from go_tdigest_spark.operators.ann import (
        _dot_frag,
        _norm_frag,
        cosine_rerank,
    )

    emb = table(spark, SF_TINY, "embeddings").limit(40)
    feats = emb.select(
        F.col("vec_id").alias("doc"),
        F.col("embedding").alias("v"),
        F.expr(_norm_frag("embedding")).alias("nrm"),
    )
    a = feats.select(
        F.col("doc").alias("doc_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = feats.select(
        F.col("doc").alias("doc_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    want = (
        pairs.select(
            "doc_a",
            "doc_b",
            (
                F.expr(_dot_frag("va", "vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .toPandas()
        .set_index(["doc_a", "doc_b"])["cos"]
    )
    got = (
        cosine_rerank(pairs, ["doc_a", "doc_b"], "va", "vb", "na", "nb", 64)
        .toPandas()
        .set_index(["doc_a", "doc_b"])["_cos_raw"]
    )
    assert len(got) == len(want) > 500
    assert (got.loc[want.index].to_numpy() == want.to_numpy()).all()


def test_ann_lsh_plan_has_no_interpreted_hofs(spark):
    """Executed plan of the driver ann_lsh_topk query: candidate re-rank
    and multiprobe are kernel/literal forms — no interpreted
    higher-order expressions (zip_with/aggregate/transform lambdas)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    df = entry.queries()["ann_lsh_topk"](spark, SF_TINY)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for hof in ("zip_with", "aggregate(", "transform("):
        assert hof not in plan, hof


def test_text_features_randomized_cross_engine_parity(spark):
    """Columnar text_features vs the DuckDB expression frags on a
    RANDOMIZED hostile corpus (seeded): every ASCII whitespace species,
    stopwords at edges/middle, punctuation runs, non-latin codepoints,
    empty/whitespace-only docs — parity must hold on all four features,
    not just the fixture corpus."""
    import duckdb

    rng = np.random.default_rng(99)
    ws = [" ", "\t", "\n", "\r", "\f", "\v"]
    words = ["the", "and", "of", "to", "in", "is", "a", "fox", "Ärger",
             "naïve", "x", "punct.,!?;:", "CAPS", "123", "..."]
    docs = []
    for i in range(300):
        k = int(rng.integers(0, 12))
        parts = []
        for _ in range(k):
            parts.append(str(rng.choice(words)))
            parts.append(str(rng.choice(ws)) * int(rng.integers(1, 3)))
        lead = str(rng.choice(ws)) * int(rng.integers(0, 3))
        docs.append((i, lead + "".join(parts)))
    docs += [(300, ""), (301, "   "), (302, "\v\v"), (303, " the and")]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    con = duckdb.connect()
    con.register("rnd_docs", pdf)

    feats = (
        T.text_features(df, "text", "doc_id")
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    oracle = con.execute(
        f"""
        SELECT doc_id,
               {T.token_count_frag_duck('text')} AS n_tokens,
               {T.lang_id_frag('text', 'duck')} AS lang_guess,
               {T.fingerprint_frag('text', 'duck')} AS fingerprint,
               {T.quality_score_frag('text', 'duck')} AS quality
        FROM rnd_docs ORDER BY doc_id
        """
    ).fetch_df().set_index("doc_id")
    for c in ("n_tokens", "lang_guess", "fingerprint"):
        bad = feats.index[feats[c] != oracle[c]]
        assert len(bad) == 0, (c, [(i, feats[c][i], oracle[c][i]) for i in bad[:3]])
    assert np.allclose(feats["quality"], oracle["quality"])


def test_deterministic_sampling_operators(spark):
    """sample_fraction: partition-count independent, key-deterministic,
    ~fraction density, NULL keys handled like '' on both engines.
    sample_topk_per_group: exactly k smallest-hash rows per group,
    independent of input partitioning."""
    from go_tdigest_spark.operators import sample_fraction, sample_topk_per_group
    from go_tdigest_spark.operators.sample import _hash_strings_batch

    n = 20_000
    df1 = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    df2 = df1.repartition(13)  # different partitioning, same data

    s1 = set(r["k"] for r in sample_fraction(df1, "k", 0.3, seed=7).collect())
    s2 = set(r["k"] for r in sample_fraction(df2, "k", 0.3, seed=7).collect())
    assert s1 == s2  # partition-count independent
    assert abs(len(s1) / n - 0.3) < 0.02  # density
    s3 = set(r["k"] for r in sample_fraction(df1, "k", 0.3, seed=8).collect())
    assert s1 != s3  # seed changes the sample
    # membership matches the kernel hash rule exactly
    h = _hash_strings_batch([str(i) for i in range(n)], 7)
    want = {i for i in range(n) if h[i] % 1_000_000 < 300_000}
    assert s1 == want

    t1 = {
        (r["g"], r["k"])
        for r in sample_topk_per_group(df1, "k", ["g"], k=4, seed=3).collect()
    }
    t2 = {
        (r["g"], r["k"])
        for r in sample_topk_per_group(df2, "k", ["g"], k=4, seed=3).collect()
    }
    assert t1 == t2
    import collections

    per_g = collections.Counter(g for g, _ in t1)
    assert all(v == 4 for v in per_g.values()) and len(per_g) == 7
    # brute-force the 4 smallest (hash, key) pairs per group
    hs = _hash_strings_batch([str(i) for i in range(n)], 3)
    best: dict[int, list] = collections.defaultdict(list)
    for i in range(n):
        best[i % 7].append((int(hs[i]), i))
    want_t = {
        (g, k) for g, lst in best.items() for _, k in sorted(lst)[:4]
    }
    assert t1 == want_t

    # NULL keys: hashed as '' (same rule the SQL twin's coalesce applies)
    dfn = spark.createDataFrame([(None,), (1,), (2,)], "k long")
    got = {r["k"] for r in sample_fraction(dfn, "k", 1.0, seed=1).collect()}
    assert got == {None, 1, 2}  # fraction 1.0 keeps everything incl. NULL


def test_sampling_guards(spark):
    """Key-type and reserved-name guards fail loudly instead of silently
    diverging from the SQL twin."""
    from go_tdigest_spark.operators import sample_fraction, sample_topk_per_group

    dbl = spark.createDataFrame([(1.5, "a")], "k double, g string")
    with pytest.raises(TypeError, match="integral or string"):
        sample_fraction(dbl, "k", 0.5)
    with pytest.raises(TypeError, match="integral or string"):
        sample_topk_per_group(dbl, "k", ["g"], k=1)
    clash = spark.createDataFrame([(1, "a", 0)], "k long, g string, _sh long")
    with pytest.raises(ValueError, match="reserved"):
        sample_topk_per_group(clash, "k", ["g"], k=1)
    # string keys pass the gate and stay deterministic
    sdf = spark.createDataFrame([(f"d{i}",) for i in range(100)], "k string")
    a = {r["k"] for r in sample_fraction(sdf, "k", 0.5, seed=2).collect()}
    b = {r["k"] for r in sample_fraction(sdf.repartition(7), "k", 0.5, seed=2).collect()}
    assert a == b and 20 < len(a) < 80


def test_sketch_streaming_misra_gries(spark, tmp_path):
    """Streaming heavy-hitter candidates: MG partials appended per
    trigger, merged on read — the MG guarantees (never overcount,
    undercount <= err, phi-heavy recall) survive the stream's
    batch-then-tree merge order."""
    from go_tdigest_spark.operators import mg_partials
    from go_tdigest_spark.sketches import MisraGries
    from go_tdigest_spark.streaming import (
        read_stream_sketches,
        sketch_stream_writer,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_TINY, "events").select("user_id")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        sketch_stream_writer(
            stream,
            lambda b: mg_partials(b, ["user_id"], [], k=256),
            state,
            ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = read_stream_sketches(
        spark, state, [], MisraGries.from_bytes
    ).collect()
    assert len(merged) == 1
    mg = MisraGries.from_bytes(bytes(merged[0]["sketch"]))
    truth = {
        r["user_id"]: r["c"]
        for r in ev.where("user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    n = sum(truth.values())
    assert mg.total == n and merged[0]["n_rows"] == n
    hash_to_user = {
        r["h"]: r["user_id"]
        for r in ev.where("user_id IS NOT NULL")
        .select("user_id", F.xxhash64("user_id").alias("h"))
        .distinct()
        .collect()
    }
    for h, c in zip(mg.hashes, mg.counts):
        t = truth[hash_to_user[int(h)]]
        assert c <= t and c >= t - mg.err  # never overcount, bounded under
    surv = {int(h) for h in mg.hashes}
    user_to_hash = {u: h for h, u in hash_to_user.items()}
    for u, t in truth.items():
        if t > mg.err:  # every item heavier than err must survive
            assert user_to_hash[u] in surv


def test_sketch_streaming_kll(spark, tmp_path):
    """Streaming KLL: exact-tracked count/min/max survive the stream's
    append-partials merge, and the p50 stays inside the rank bound."""
    from go_tdigest_spark.operators import kll_partials
    from go_tdigest_spark.sketches import KLL
    from go_tdigest_spark.streaming import (
        read_stream_sketches,
        sketch_stream_writer,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    li.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("l_returnflag string, l_extendedprice double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        sketch_stream_writer(
            stream,
            lambda b: kll_partials(b, "l_extendedprice", ["l_returnflag"]),
            state,
            ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = read_stream_sketches(
        spark, state, ["l_returnflag"], KLL.from_bytes
    ).toPandas().set_index("l_returnflag")
    pdf = li.toPandas()
    for rf, grp in pdf.groupby("l_returnflag"):
        v = grp["l_extendedprice"].dropna().to_numpy()
        sk = KLL.from_bytes(bytes(merged.loc[rf]["sketch"]))
        assert sk.count == v.size
        assert sk.quantile(0.0) == v.min() and sk.quantile(1.0) == v.max()
        p50 = sk.quantile(0.5)
        rank_err = abs((v <= p50).mean() - 0.5)
        assert rank_err <= 0.02, (rf, rank_err)


def test_sketch_streaming_frequent_directions(spark, tmp_path):
    """Streaming FD: the certified covariance bound and the exact
    n_rows/fnorm2 companions survive the stream's append-partials +
    merge-on-read order, grouped by label."""
    import numpy as np

    from go_tdigest_spark.operators import fd_partials
    from go_tdigest_spark.sketches import FrequentDirections
    from go_tdigest_spark.streaming import (
        read_stream_sketches,
        sketch_stream_writer,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    emb = table(spark, SF_TINY, "embeddings").select("label", "embedding")
    emb.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("label int, embedding array<float>")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        sketch_stream_writer(
            stream,
            lambda b: fd_partials(b, "embedding", 64, ["label"], ell=16),
            state,
            ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = (
        read_stream_sketches(
            spark, state, ["label"], FrequentDirections.from_bytes
        )
        .toPandas()
        .set_index("label")
    )
    pdf = emb.toPandas()
    for lbl, grp in pdf.groupby("label"):
        M = np.array([list(v) for v in grp["embedding"]], dtype=np.float64)
        sk = FrequentDirections.from_bytes(bytes(merged.loc[lbl]["sketch"]))
        assert sk.n_rows == M.shape[0]
        assert np.isclose(sk.fnorm2, (M * M).sum(), rtol=1e-9)
        eigs = np.linalg.eigvalsh(M.T @ M - sk.cov())
        assert eigs.min() > -1e-6
        assert eigs.max() <= sk.shrink_total + 1e-6
        assert sk.shrink_total <= sk.fnorm2 / 16 + 1e-9


# ------------------------------------------- streaming pipeline family


def test_streaming_exact_dedup(spark, tmp_path, docs):
    from go_tdigest_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    # duplicates split ACROSS triggers: same doc re-ingested in a later
    # file must still be dropped by the keyed state
    docs.where("doc_id < 4").coalesce(1).write.mode("append").parquet(src)
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_exact_dedup(stream, ["doc_id"])
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT doc_id FROM dedup_stream").toPandas()
    assert sorted(out["doc_id"]) == list(range(8))  # each key exactly once

    # watermark-bounded variant drops the within-window re-ingests too
    with pytest.raises(ValueError):
        streaming_exact_dedup(stream, ["doc_id"], ts_col="ts")


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    from go_tdigest_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")
    rows = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:02:00"),  # dup within the 10-minute window
            (2, "2024-01-01 00:05:00"),
            (2, "2024-01-01 00:06:00"),  # dup within the window
            (3, "2024-01-01 00:07:00"),
        ],
        "k long, ts_s string",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts")
    rows.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_exact_dedup(
            stream, ["k"], ts_col="ts", watermark_delay="10 minutes"
        )
        .writeStream.format("memory")
        .queryName("wm_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT k FROM wm_dedup_stream").toPandas()
    assert sorted(out["k"]) == [1, 2, 3]


def test_streaming_sample_matches_batch(spark, tmp_path):
    from go_tdigest_spark.operators import sample_fraction
    from go_tdigest_spark.streaming import streaming_sample_fraction

    src = str(tmp_path / "sample_src")
    ckpt = str(tmp_path / "sample_ckpt")
    docs = table(spark, SF_TINY, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        streaming_sample_fraction(stream, "doc_id", 0.4, seed=11)
        .writeStream.format("memory")
        .queryName("sample_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = set(
        spark.sql("SELECT doc_id FROM sample_stream").toPandas()["doc_id"]
    )
    expect = set(
        sample_fraction(docs, "doc_id", 0.4, seed=11)
        .toPandas()["doc_id"]
    )
    # stateless content-hash membership: cumulative stream output is
    # IDENTICAL to the batch sample over the same rows
    assert got == expect and 0 < len(got) < docs.count()


def test_streaming_split_matches_batch(spark, tmp_path):
    from go_tdigest_spark.operators import sample_split
    from go_tdigest_spark.streaming import streaming_sample_split

    src = str(tmp_path / "split_src")
    ckpt = str(tmp_path / "split_ckpt")
    docs = table(spark, SF_TINY, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(src)
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        streaming_sample_split(stream, "doc_id", weights, seed=9)
        .writeStream.format("memory")
        .queryName("split_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["split"])
        for r in spark.sql(
            "SELECT doc_id, split FROM split_stream"
        ).collect()
    }
    expect = {
        (r["doc_id"], r["split"])
        for r in sample_split(docs, "doc_id", weights, seed=9)
        .select("doc_id", "split")
        .collect()
    }
    # stateless: every row lands in the same split whether it arrived
    # by stream trigger or batch backfill
    assert got == expect and len({s for _, s in got}) == 3


def test_streaming_minhash_lsh(spark, tmp_path, docs):
    from go_tdigest_spark.streaming import (
        minhash_signature_stream_writer,
        read_stream_lsh_pairs,
    )

    src = str(tmp_path / "mh_src")
    state = str(tmp_path / "mh_state")
    ckpt = str(tmp_path / "mh_ckpt")
    # near-dup pairs SPAN the trigger boundary (0|7 and 3|4 split):
    # candidates across old x new documents must appear on read
    docs.where("doc_id < 4").coalesce(1).write.mode("append").parquet(src)
    docs.where("doc_id >= 4").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        minhash_signature_stream_writer(
            stream, "text", "doc_id", state, ckpt, n=2, n_hashes=16
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        read_stream_lsh_pairs(spark, state, n_hashes=16, threshold=0.5)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    expect = (
        minhash_lsh_pairs(docs, "text", "doc_id", n=2, n_hashes=16)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    # identical banding/join plan over the streamed signature state ==
    # the batch operator over the union of all triggers
    pd.testing.assert_frame_equal(got, expect)
    cross = set(map(tuple, got[["doc_a", "doc_b"]].to_numpy()))
    assert (0, 7) in cross  # exact dups split across triggers
    # state table carries trigger lineage
    assert (
        spark.read.parquet(state).select("batch_id").distinct().count() == 2
    )

    # incremental reader: pairs introduced since a batch high-water mark
    from go_tdigest_spark.streaming import read_stream_lsh_pairs_since

    full = {
        (a, b): e for a, b, e in got.itertuples(index=False)
    }
    # since=-1: everything is new -> identical to the full reader
    since_all = read_stream_lsh_pairs_since(
        spark, state, -1, n_hashes=16, threshold=0.5
    ).toPandas()
    assert {
        (a, b): e for a, b, e in since_all.itertuples(index=False)
    } == full
    # since=0: docs of batch 1 (ids >= 4) are new; expected = full minus
    # old-self pairs, cross pairs oriented (new, old)
    new_ids = {4, 5, 6, 7}
    want = {}
    for (a, b), e in full.items():
        if a in new_ids and b in new_ids:
            want[(a, b)] = e
        elif a in new_ids or b in new_ids:
            n_, o_ = (a, b) if a in new_ids else (b, a)
            want[(n_, o_)] = e
    since_b0 = read_stream_lsh_pairs_since(
        spark, state, 0, n_hashes=16, threshold=0.5
    ).toPandas()
    assert {
        (a, b): e for a, b, e in since_b0.itertuples(index=False)
    } == want
    # disjoint-union identity: old-self pairs + since(0) == full reader
    old_self = {
        (a, b): e
        for a, b, e in minhash_lsh_pairs(
            docs.where("doc_id < 4"), "text", "doc_id", n=2, n_hashes=16
        )
        .toPandas()
        .itertuples(index=False)
    }
    rejoined = dict(old_self)
    for (a, b), e in want.items():
        key = (a, b) if (a, b) in full else (b, a)
        rejoined[key] = e
    assert rejoined == full
    # past the high-water mark: nothing new, nothing emitted
    assert (
        read_stream_lsh_pairs_since(
            spark, state, 1, n_hashes=16, threshold=0.5
        ).count()
        == 0
    )


# ------------------------------------------------- as-of / interval join


def test_asof_join_backward_semantics(spark):
    from go_tdigest_spark.operators import asof_join

    left = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:00:00", 1),
            ("a", "2024-01-01 10:05:00", 2),
            ("b", "2024-01-01 10:00:00", 3),  # key with no right rows
            ("a", "2024-01-01 09:00:00", 4),  # before all right rows
        ],
        "k string, ts_s string, lid int",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts", "lid")
    right = spark.createDataFrame(
        [
            ("a", "2024-01-01 09:58:00", 1.0),
            ("a", "2024-01-01 10:00:00", 2.0),
        ],
        "k string, ts_s string, v double",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts", "v")

    got = (
        asof_join(left, right, "ts", ["k"], ["v"], matched_ts_col="mts")
        .toPandas()
        .set_index("lid")
    )
    assert got.loc[1, "v"] == 2.0  # inclusive: right at equal ts wins
    assert got.loc[2, "v"] == 2.0
    assert pd.isna(got.loc[3, "v"]) and pd.isna(got.loc[3, "mts"])
    assert pd.isna(got.loc[4, "v"])
    assert str(got.loc[1, "mts"]) == "2024-01-01 10:00:00"

    # tolerance: lid=2 matched 5 minutes back -> nulled at 3 minutes
    tol = (
        asof_join(
            left, right, "ts", ["k"], ["v"],
            tolerance="3 minutes", matched_ts_col="mts",
        )
        .toPandas()
        .set_index("lid")
    )
    assert tol.loc[1, "v"] == 2.0
    assert pd.isna(tol.loc[2, "v"]) and pd.isna(tol.loc[2, "mts"])

    with pytest.raises(ValueError):
        asof_join(left, right, "ts", ["k"], ["v"], direction="nearest")
    with pytest.raises(ValueError):  # collision with left columns
        asof_join(left, right.withColumnRenamed("v", "lid"), "ts", ["k"], ["lid"])


def test_asof_join_forward_semantics(spark):
    from go_tdigest_spark.operators import asof_join

    left = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00", 1), ("a", "2024-01-01 10:01:00", 2)],
        "k string, ts_s string, lid int",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts", "lid")
    right = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00", 2.0), ("a", "2024-01-01 10:30:00", 3.0)],
        "k string, ts_s string, v double",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts", "v")
    got = (
        asof_join(left, right, "ts", ["k"], ["v"], direction="forward")
        .toPandas()
        .set_index("lid")
    )
    assert got.loc[1, "v"] == 2.0  # inclusive at equal ts
    assert got.loc[2, "v"] == 3.0


def test_asof_join_matches_duckdb_asof(spark):
    """Spark window-based as-of == DuckDB's native merge-join ASOF over
    real event data (semantically independent implementations)."""
    import duckdb

    from go_tdigest_spark.operators import asof_join, asof_join_sql

    ev = table(spark, SF_TINY, "events")
    purchases = ev.where("event_type = 'purchase'").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.where("event_type = 'click'").select(
        "ts", "user_id", F.col("value").alias("click_value")
    )
    got = (
        asof_join(
            purchases, clicks, "ts", ["user_id"], ["click_value"],
            matched_ts_col="click_ts",
        )
        .select("event_id", "user_id", "value", "click_value", "click_ts")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    src = "read_parquet('/root/testdata/sf0.001/events.parquet')"
    sql = asof_join_sql(
        f"SELECT event_id, ts, user_id, value FROM {src} WHERE event_type = 'purchase'",
        f"SELECT ts, user_id, value AS click_value FROM {src} WHERE event_type = 'click'",
        "ts",
        ["user_id"],
        ["click_value"],
        ["event_id", "user_id", "value"],
        matched_ts_col="click_ts",
    )
    expect = duckdb.sql(sql).df().sort_values("event_id").reset_index(drop=True)
    for c in ("click_ts",):
        got[c] = got[c].astype("datetime64[us]")
        expect[c] = expect[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)
    assert got["click_value"].isna().any()  # left-join NULL path exercised


def test_interval_join_matches_between_join(spark):
    import duckdb

    from go_tdigest_spark.operators import interval_join

    ev = table(spark, SF_TINY, "events")
    points = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    intervals = ev.where("event_type = 'error'").selectExpr(
        "event_id AS error_id",
        "user_id",
        "ts - INTERVAL 5 minutes AS w_start",
        "ts + INTERVAL 5 minutes AS w_end",
    )
    got = interval_join(
        points, intervals, "ts", "w_start", "w_end", ["user_id"]
    )
    pairs = {
        (r["purchase_id"], r["error_id"])
        for _, r in got.select("purchase_id", "error_id").toPandas().iterrows()
    }
    src = "read_parquet('/root/testdata/sf0.001/events.parquet')"
    expect = {
        tuple(r)
        for r in duckdb.sql(
            f"""SELECT p.event_id, e.event_id FROM {src} p JOIN {src} e
                ON p.user_id = e.user_id
               AND p.event_type = 'purchase' AND e.event_type = 'error'
               AND p.ts BETWEEN e.ts - INTERVAL 5 MINUTE
                            AND e.ts + INTERVAL 5 MINUTE"""
        ).fetchall()
    }
    assert pairs == expect and len(pairs) > 0

    # bucket narrower than the interval: more replication, same result
    narrow = interval_join(
        points, intervals, "ts", "w_start", "w_end", ["user_id"],
        bucket="2 minutes",
    )
    pairs2 = {
        (r["purchase_id"], r["error_id"])
        for _, r in narrow.select("purchase_id", "error_id")
        .toPandas()
        .iterrows()
    }
    assert pairs2 == expect

    with pytest.raises(ValueError):  # non-key column on both sides
        interval_join(
            points.withColumn("w_start", F.col("ts")),
            intervals, "ts", "w_start", "w_end", ["user_id"],
        )


def test_asof_join_null_semantics(spark):
    """Review findings: (a) a genuinely-NULL value on the matched right
    row must NOT fall through to an older row's value; (b) NULL by-keys
    never match (SQL join semantics, unlike window partitioning)."""
    import duckdb

    from go_tdigest_spark.operators import asof_join, asof_join_sql

    left = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:05:00", 1),
            (None, "2024-01-01 10:05:00", 2),  # NULL key: never matches
            ("a", None, 3),  # NULL ts: never matches
        ],
        "k string, ts_s string, lid int",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts", "lid")
    right = spark.createDataFrame(
        [
            ("a", "2024-01-01 09:00:00", 1.0),
            ("a", "2024-01-01 10:00:00", None),  # matched row, NULL value
            (None, "2024-01-01 10:00:00", 9.0),  # NULL key: never matches
            ("a", None, 8.0),  # NULL ts: never matches
        ],
        "k string, ts_s string, v double",
    ).selectExpr("k", "cast(ts_s as timestamp) AS ts", "v")

    got = (
        asof_join(left, right, "ts", ["k"], ["v"], matched_ts_col="mts")
        .toPandas()
        .set_index("lid")
    )
    assert pd.isna(got.loc[1, "v"])  # the 10:00 row's NULL, not 09:00's 1.0
    assert str(got.loc[1, "mts"]) == "2024-01-01 10:00:00"
    assert pd.isna(got.loc[2, "v"]) and pd.isna(got.loc[2, "mts"])
    assert pd.isna(got.loc[3, "v"]) and pd.isna(got.loc[3, "mts"])
    fwd = (
        asof_join(
            left, right, "ts", ["k"], ["v"],
            direction="forward", matched_ts_col="mts",
        )
        .toPandas()
        .set_index("lid")
    )
    assert pd.isna(fwd.loc[3, "v"])  # NULL left ts must not grab a match

    # same construction through DuckDB's native ASOF (the oracle)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE l AS SELECT * FROM (VALUES "
        "('a', TIMESTAMP '2024-01-01 10:05:00', 1), "
        "(NULL, TIMESTAMP '2024-01-01 10:05:00', 2), "
        "('a', NULL, 3)) t(k, ts, lid)"
    )
    con.execute(
        "CREATE TABLE r AS SELECT * FROM (VALUES "
        "('a', TIMESTAMP '2024-01-01 09:00:00', 1.0), "
        "('a', TIMESTAMP '2024-01-01 10:00:00', NULL), "
        "(NULL, TIMESTAMP '2024-01-01 10:00:00', 9.0), "
        "('a', NULL, 8.0)) t(k, ts, v)"
    )
    sql = asof_join_sql(
        "SELECT * FROM l", "SELECT * FROM r", "ts", ["k"], ["v"],
        ["lid"], matched_ts_col="mts",
    )
    expect = con.sql(sql).df().set_index("lid")
    for lid in (1, 2, 3):
        assert pd.isna(got.loc[lid, "v"]) == pd.isna(expect.loc[lid, "v"])


def test_lsh_pairs_from_sigs_width_guard(spark):
    from go_tdigest_spark.operators.dedup import lsh_pairs_from_sigs

    sigs = spark.createDataFrame(
        [(0, [1, 2, 3, 4]), (1, [1, 2, 3, 4])], "doc long, sig array<bigint>"
    )
    with pytest.raises(Exception, match="signature width"):
        lsh_pairs_from_sigs(sigs, n_hashes=8, bands=4).collect()
    assert lsh_pairs_from_sigs(sigs, n_hashes=4, bands=4).count() == 1


def test_stream_lsh_pairs_latest_wins(spark, tmp_path, docs):
    """Re-ingested doc ids resolve to the LATEST batch's signature —
    deterministic, and reflecting the edited text."""
    from go_tdigest_spark.operators import minhash_lsh_pairs
    from go_tdigest_spark.operators.dedup import minhash_signatures
    from go_tdigest_spark.streaming import read_stream_lsh_pairs

    state = str(tmp_path / "lw_state")
    v2 = spark.createDataFrame(
        # doc 5 edited to become a near-dup of docs 0/1/7
        [(5, "the quick brown fox jumps over the lazy dog", "code")],
        "doc_id long, text string, source string",
    )
    minhash_signatures(docs, "text", "doc_id").write.parquet(
        f"{state}/batch_id=0"
    )
    minhash_signatures(v2, "text", "doc_id").write.parquet(
        f"{state}/batch_id=1"
    )
    got = read_stream_lsh_pairs(spark, state).toPandas()
    latest_docs = docs.where("doc_id != 5").unionByName(v2)
    expect = minhash_lsh_pairs(latest_docs, "text", "doc_id").toPandas()
    assert {tuple(r) for r in got[["doc_a", "doc_b"]].to_numpy()} == {
        tuple(r) for r in expect[["doc_a", "doc_b"]].to_numpy()
    }
    assert (0, 5) in {tuple(r) for r in got[["doc_a", "doc_b"]].to_numpy()}


# ----------------------------------------------------------- IVF ANN


def test_ivf_exhaustive_probe_equals_bruteforce(spark):
    """nprobe = n_cells scans every cell, so the IVF plan must return
    EXACTLY the brute-force top-k (same rows, ranks, rounded cosines)."""
    from go_tdigest_spark.operators import cosine_topk, ivf_ann_topk

    emb = table(spark, SF_TINY, "embeddings")
    qids = [5, 6, 7, 8, 9]
    got = (
        ivf_ann_topk(
            emb, "embedding", "vec_id", qids, k=5, n_cells=16, nprobe=16
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    expect = (
        cosine_topk(emb, "embedding", "vec_id", qids, k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_ivf_partial_probe_recall(spark):
    from go_tdigest_spark.operators import cosine_topk, ivf_ann_topk

    emb = table(spark, SF_TINY, "embeddings")
    qids = list(range(20))
    exact = cosine_topk(emb, "embedding", "vec_id", qids, k=5).toPandas()
    approx = ivf_ann_topk(
        emb, "embedding", "vec_id", qids, k=5, n_cells=16, nprobe=8
    ).toPandas()
    ex = {(r["query_id"], r["nn_id"]) for _, r in exact.iterrows()}
    ap = {(r["query_id"], r["nn_id"]) for _, r in approx.iterrows()}
    recall = len(ex & ap) / len(ex)
    # 8/16 cells probed: measured 0.73 on this (near-uniform, hence
    # IVF-hostile) fixture; floor 0.6 leaves headroom — a regression in
    # cell assignment or probe selection collapses recall, not wiggles it
    assert recall >= 0.6, recall
    # every query is PRESENT and returns k rows (a groupby-only check
    # would pass with a query silently missing from the output)
    assert set(approx["query_id"]) == set(qids)
    assert sorted(approx.groupby("query_id").size().unique()) == [5]


def test_ivf_assign_covers_corpus(spark):
    from go_tdigest_spark.operators import ivf_assign, ivf_centroids

    emb = table(spark, SF_TINY, "embeddings")
    C = ivf_centroids(emb, "embedding", "vec_id", 8)
    assert C.shape == (8, 64)
    # determinism: same data -> identical centroids
    C2 = ivf_centroids(emb, "embedding", "vec_id", 8)
    assert np.array_equal(C, C2)
    assigned = ivf_assign(emb, "embedding", "vec_id", C)
    pdf = assigned.toPandas()
    assert len(pdf) == emb.count()  # fixture has no zero vectors
    assert pdf["cell"].between(0, 7).all()
    assert pdf["cell"].nunique() > 1  # sampled quantizer actually splits


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed identically on the join key
    join with NO Exchange on either side — the amortize-the-shuffle
    primitive for repeated fact-fact joins at scale."""
    from go_tdigest_spark.sources import write_bucketed

    orders = table(spark, SF_TINY, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = table(spark, SF_TINY, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    t1 = write_bucketed(
        orders, "bk_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(tmp_path / "bk_orders"),
    )
    t2 = write_bucketed(
        li, "bk_lineitem", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=str(tmp_path / "bk_lineitem"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t1.join(t2, t1["o_orderkey"] == t2["l_orderkey"]).select(
            "o_orderkey", "l_extendedprice"
        )
        n = j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        # and the result is the plain join's
        want = orders.join(
            li, orders["o_orderkey"] == li["l_orderkey"]
        ).count()
        assert n == want and n > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join: cumulative output over all triggers
    equals the batch interval_join on the same data (inclusive bounds),
    with matches spanning trigger boundaries."""
    import datetime as dt

    from go_tdigest_spark.operators.asof import interval_join
    from go_tdigest_spark.streaming import streaming_interval_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda m: base + dt.timedelta(minutes=m)  # noqa: E731
    pts = [
        ("u1", s(1), 10.0), ("u1", s(4), 11.0), ("u1", s(9), 12.0),
        ("u2", s(2), 20.0), ("u2", s(30), 21.0), ("u3", s(5), 30.0),
    ]
    ivs = [
        ("u1", "w1", s(0), s(5)),    # catches minutes 1 and 4, 5 incl.
        ("u1", "w2", s(4), s(9)),    # catches 4 (boundary) and 9
        ("u2", "w3", s(0), s(3)),    # catches 2
        ("u4", "w4", s(0), s(9)),    # no points for u4
    ]
    psrc, isrc = str(tmp_path / "pts"), str(tmp_path / "ivs")
    ckpt = str(tmp_path / "ij_ckpt")
    pdf = spark.createDataFrame(pts, "user_id string, ts timestamp, v double")
    idf = spark.createDataFrame(
        ivs, "user_id string, win string, start timestamp, end timestamp"
    )
    # two files per side -> matches span trigger boundaries
    pdf.where("v <= 11.0").coalesce(1).write.mode("append").parquet(psrc)
    pdf.where("v > 11.0").coalesce(1).write.mode("append").parquet(psrc)
    idf.coalesce(1).write.mode("overwrite").parquet(isrc)

    pstream = (
        spark.readStream.schema("user_id string, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1).parquet(psrc)
    )
    istream = spark.readStream.schema(
        "user_id string, win string, start timestamp, end timestamp"
    ).parquet(isrc)
    q = (
        streaming_interval_join(
            pstream, istream, "ts", "start", "end", ["user_id"],
            max_interval="10 minutes",
            # generous watermarks: the file source may pick the later
            # file first, and the test pins join semantics, not
            # late-data dropping
            point_watermark="2 hours", interval_watermark="2 hours",
        )
        .writeStream.format("memory").queryName("ij_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["win"], r["v"])
        for r in spark.sql("SELECT user_id, win, v FROM ij_stream").collect()
    }
    want = {
        (r["user_id"], r["win"], r["v"])
        for r in interval_join(
            pdf, idf, "ts", "start", "end", ["user_id"],
            bucket="10 minutes",
        ).collect()
    }
    assert got == want
    assert ("u1", "w1", 11.0) in got and ("u1", "w2", 11.0) in got


def test_streaming_interval_join_overlong_interval_is_loud(spark, tmp_path):
    import datetime as dt

    from go_tdigest_spark.streaming import streaming_interval_join

    base = dt.datetime(2024, 1, 1)
    psrc, isrc = str(tmp_path / "p2"), str(tmp_path / "i2")
    ckpt = str(tmp_path / "ij2_ckpt")
    spark.createDataFrame(
        [("u1", base, 1.0)], "user_id string, ts timestamp, v double"
    ).write.parquet(psrc)
    spark.createDataFrame(
        [("u1", "w", base, base + dt.timedelta(hours=2))],
        "user_id string, win string, start timestamp, end timestamp",
    ).write.parquet(isrc)
    pstream = spark.readStream.schema(
        "user_id string, ts timestamp, v double"
    ).parquet(psrc)
    istream = spark.readStream.schema(
        "user_id string, win string, start timestamp, end timestamp"
    ).parquet(isrc)
    q = (
        streaming_interval_join(
            pstream, istream, "ts", "start", "end", ["user_id"],
            max_interval="10 minutes",
        )
        .writeStream.format("memory").queryName("ij2_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="longer than max_interval"):
        q.awaitTermination(120)


def test_write_partitioned_layout_and_pruning(spark, tmp_path):
    """Partitioned sink: hive layout, bounded file sizes, and a reader
    filter on the partition column becomes a PartitionFilter (whole
    directories pruned without reading a footer)."""
    import glob
    import os

    from go_tdigest_spark.plans import write_partitioned

    docs = table(spark, SF_TINY, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = str(tmp_path / "part_out")
    write_partitioned(docs, out, ["source"], max_records_per_file=10)
    dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(out, "source=*"))
    )
    assert len(dirs) >= 2 and all(d.startswith("source=") for d in dirs)
    # bounded file sizes: maxRecordsPerFile=10 must split each
    # partition's rows (>=20 per source at sf0.001) into >=2 files
    rows_first = spark.read.parquet(os.path.join(out, dirs[0])).count()
    first = glob.glob(os.path.join(out, dirs[0], "*.parquet"))
    assert len(first) >= (rows_first + 9) // 10 >= 2

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    one_source = dirs[0].split("=", 1)[1]
    q = back.where(F.col("source") == one_source).select("doc_id")
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the partition-column predicate must land in PartitionFilters
    # (directory pruning), and must not be empty
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan[:1500]
    pf_body = pf[1].split("]", 1)[0]
    assert "source" in pf_body and pf_body.strip() != ""

    with pytest.raises(ValueError, match="non-empty"):
        write_partitioned(docs, out, [])
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_partitioned(docs, out, ["nope"])


# ------------------------------------------------- decontam / repetition


def test_repetition_stats_matches_bruteforce(spark):
    from collections import Counter

    from go_tdigest_spark.operators import repetition_stats
    from go_tdigest_spark.operators.dedup import py_shingles

    rows = [
        (0, "a b a b a b a b"),            # heavy 2-gram repetition
        (1, "one two three four five"),     # all distinct
        (2, "x"),                           # too short for 2-grams
        (3, None),                          # null text dropped
        (4, "go go go go"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc"]: r
        for r in repetition_stats(df, "text", "doc_id", n=2).collect()
    }
    for doc_id, text in rows:
        if text is None:
            assert doc_id not in got
            continue
        grams = py_shingles(text, 2)
        if not grams:
            assert doc_id not in got
            continue
        c = Counter(grams)
        r = got[doc_id]
        assert r["n_grams"] == sum(c.values())
        assert r["n_distinct"] == len(c)
        assert r["top_count"] == max(c.values())


def test_decontaminate_stats_semantics_and_plan(spark, docs):
    from go_tdigest_spark.operators import decontaminate_stats

    eval_df = docs.where(F.col("doc_id").isin(0, 3))
    out = decontaminate_stats(docs, eval_df, "text", "doc_id", n=2, threshold=1)
    out.collect()
    rows = {r["doc"]: r for r in out.collect()}
    # eval members are fully contaminated by construction
    for d in (0, 3):
        assert rows[d]["n_hits"] == rows[d]["n_grams"]
        assert rows[d]["contamination"] == 1.0
        assert rows[d]["contaminated"] == 1
    # exact dups of an eval member are fully contaminated too
    assert rows[1]["contamination"] == 1.0 and rows[7]["contamination"] == 1.0
    # disjoint doc has zero hits
    assert rows[5]["n_hits"] == 0 and rows[5]["contaminated"] == 0
    # near-dup of eval doc 3 shares most but not all grams
    assert 0 < rows[4]["n_hits"] < rows[4]["n_grams"]
    # empty doc produces no shingles and is absent
    assert 6 not in rows
    # plan: eval side must be broadcast (tiny benchmark suite vs 100 TB
    # corpus) and nothing row-wise Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_streaming_repetition_matches_batch(spark, tmp_path):
    # repetition_stats is a single map-side Arrow kernel (no shuffle, no
    # state), so it composes with readStream as-is: cumulative stream
    # output equals the batch pass over the same rows
    from go_tdigest_spark.operators import repetition_stats

    src = str(tmp_path / "rep_src")
    ckpt = str(tmp_path / "rep_ckpt")
    docs = table(spark, SF_TINY, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        repetition_stats(stream, "text", "doc_id", n=2)
        .writeStream.format("memory")
        .queryName("rep_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc"]: (r["n_grams"], r["n_distinct"], r["top_count"])
        for r in spark.sql("SELECT * FROM rep_stream").collect()
    }
    expect = {
        r["doc"]: (r["n_grams"], r["n_distinct"], r["top_count"])
        for r in repetition_stats(docs, "text", "doc_id", n=2).collect()
    }
    assert got == expect and len(got) > 0


# ----------------------------------------- cross-doc duplicate spans


def _brute_dup_spans(rows, n, min_count):
    """Python brute-force replica of duplicate_span_stats over shingle
    STRINGS (hash collisions merge identically engine-side; on small
    random corpora string- and hash-identity coincide)."""
    from collections import Counter

    from go_tdigest_spark.operators.dedup import py_shingles

    grams = {}
    cnt = Counter()
    for d, t in rows:
        if t is None:
            continue
        g = py_shingles(t, n)
        grams[d] = g
        cnt.update(g)
    out = {}
    for d, g in grams.items():
        spans = []
        for p in (i for i, x in enumerate(g) if cnt[x] >= min_count):
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + n)
            else:
                spans.append([p, p + n])
        out[d] = (
            len(spans),
            sum(e - s for s, e in spans),
            [(s, e) for s, e in spans],
        )
    return out


def test_duplicate_spans_hand_computed(spark):
    from go_tdigest_spark.operators.dedup import (
        duplicate_span_stats,
        duplicate_spans,
    )

    rows = [
        (1, "a b c d e a b"),   # "a b"x2 intra-doc, "c d" shared with 2
        (2, "x c d y"),
        (3, "zz yy"),           # nothing duplicated
        (4, None),              # dropped
        (5, "q"),               # shorter than n -> zero-filled
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r["doc"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, "text", "doc_id", n=2).collect()
    }
    # doc1: windows [0,2),[2,4),[5,7) -> touching first two merge
    assert spans == {(1, 0, 4), (1, 5, 7), (2, 1, 3)}
    stats = {
        r["doc"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in duplicate_span_stats(df, "text", "doc_id", n=2).collect()
    }
    assert stats == {1: (2, 6), 2: (1, 2), 3: (0, 0), 5: (0, 0)}


def test_duplicate_spans_randomized_bruteforce_and_sql_parity(spark):
    import duckdb
    import numpy as np
    import pandas as pd

    from go_tdigest_spark.operators.dedup import (
        duplicate_span_stats,
        duplicate_span_stats_sql,
        duplicate_spans,
    )

    rng = np.random.default_rng(173)
    vocab = [f"w{i}" for i in range(40)]
    boiler = " ".join(rng.choice(vocab, size=12))
    rows = []
    for d in range(80):
        body = " ".join(rng.choice(vocab, size=int(rng.integers(0, 30))))
        # ~1/3 of docs share an identical boilerplate block mid-text
        if d % 3 == 0:
            body = body + " " + boiler + " " + " ".join(
                rng.choice(vocab, size=5)
            )
        rows.append((d, body if body else None))
    rows.append((900, None))
    rows.append((901, "\t  w1\n w2  \x0bw3 "))  # hostile whitespace
    n, mc = 3, 2
    df = spark.createDataFrame(rows, "doc_id long, text string")

    brute = _brute_dup_spans(rows, n, mc)
    got = {
        r["doc"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in duplicate_span_stats(
            df, "text", "doc_id", n=n, min_count=mc
        ).collect()
    }
    assert set(got) == set(brute)
    for d, (ns, nt, _) in brute.items():
        assert got[d] == (ns, nt), d

    # span-level invariants + exact span equality vs brute
    spans = duplicate_spans(df, "text", "doc_id", n=n, min_count=mc)
    per_doc: dict = {}
    for r in spans.collect():
        per_doc.setdefault(r["doc"], []).append(
            (r["span_start"], r["span_end"])
        )
    for d, sp in per_doc.items():
        sp.sort()
        assert sp == brute[d][2], d
        for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
            assert e1 < s2  # maximal: disjoint and non-touching
        assert all(e - s >= n for s, e in sp)

    # DuckDB twin: identical polynomial hash, identical merge rule
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    oracle = {
        d: (ns, nt)
        for d, ns, nt in con.sql(
            duplicate_span_stats_sql(
                "documents", "text", "doc_id", n=n, min_count=mc
            )
        ).fetchall()
    }
    assert oracle == got

    # plan guardrails: gram hashing is ONE vectorized Arrow stage
    # (MapInArrow), everything else Catalyst — no row-at-a-time Python,
    # no cartesian product
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cut_duplicate_spans(spark):
    from go_tdigest_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_span_stats,
        py_words,
    )

    rows = [
        (1, "a b c d e a b"),
        (2, "x c d y"),
        (3, "zz yy"),
        (4, None),
        (5, "q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cut_duplicate_spans(df, "text", "doc_id", n=2).collect()
    }
    # doc1 spans [0,4),[5,7) -> only word 4 ("e") survives
    assert out[1]["text_dedup"] == "e" and out[1]["n_cut_tokens"] == 6
    assert out[2]["text_dedup"] == "x y" and out[2]["n_cut_tokens"] == 2
    assert out[3]["text_dedup"] == "zz yy" and out[3]["n_cut_tokens"] == 0
    assert out[4]["text_dedup"] is None and out[4]["n_cut_tokens"] is None
    assert out[5]["text_dedup"] == "q" and out[5]["n_cut_tokens"] == 0

    # randomized: cut output == brute-force removal; n_cut_tokens ==
    # dup_tokens (cross-operator invariant with duplicate_span_stats)
    import numpy as np

    rng = np.random.default_rng(91)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(rng.choice(vocab, size=10))
    rrows = []
    for d in range(60):
        body = " ".join(rng.choice(vocab, size=int(rng.integers(2, 25))))
        if d % 4 == 0:
            body = boiler + " " + body
        rrows.append((d, body))
    rdf = spark.createDataFrame(rrows, "doc_id long, text string")
    n, mc = 3, 2
    brute = _brute_dup_spans(rrows, n, mc)
    cut = {
        r["doc_id"]: r
        for r in cut_duplicate_spans(
            rdf, "text", "doc_id", n=n, min_count=mc
        ).collect()
    }
    stats = {
        r["doc"]: r["dup_tokens"]
        for r in duplicate_span_stats(
            rdf, "text", "doc_id", n=n, min_count=mc
        ).collect()
    }
    for d, text in rrows:
        words = py_words(text)
        covered = set()
        for s, e in brute.get(d, (0, 0, []))[2]:
            covered.update(range(s, e))
        expect = [w for i, w in enumerate(words) if i not in covered]
        assert cut[d]["text_dedup"].split(" " ) in ([expect] if expect else [[""], []])
        assert cut[d]["n_cut_tokens"] == len(covered) == stats[d]

    plan = (
        cut_duplicate_spans(rdf, "text", "doc_id", n=n, min_count=mc)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan


def test_sketch_streaming_theta(spark, tmp_path):
    """Streaming theta sketches through the generic append-partials
    writer: stream == batch EXACTLY (theta's union is order-insensitive
    in its bytes, so the merged stream sketch supports the same set
    algebra as a batch build)."""
    from go_tdigest_spark.operators import theta_partials
    from go_tdigest_spark.sketches import ThetaSketch
    from go_tdigest_spark.streaming import (
        read_stream_sketches,
        sketch_stream_writer,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_TINY, "events").select("event_type", "user_id")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        sketch_stream_writer(
            stream,
            lambda b: theta_partials(b, ["user_id"], ["event_type"], k=128),
            state,
            ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = (
        read_stream_sketches(spark, state, ["event_type"], ThetaSketch.from_bytes)
        .toPandas()
        .set_index("event_type")
    )
    from go_tdigest_spark.operators import theta_agg

    batch = (
        theta_agg(ev, ["user_id"], by=["event_type"], k=128)
        .toPandas()
        .set_index("event_type")
    )
    assert set(merged.index) == set(batch.index)
    for et in merged.index:
        assert bytes(merged.loc[et]["sketch"]) == bytes(batch.loc[et]["sketch"])
        assert merged.loc[et]["n_rows"] == batch.loc[et]["n_rows"]


def test_checkpoint_any_sketch_resume_theta_and_hll(spark, tmp_path):
    """CheckpointedSketchJob with a non-digest sketch injected — theta
    run resumes across a simulated crash
    and the final sketch is BITWISE equal to a one-shot batch build
    (theta's merge is order-insensitive in its bytes); HLL variant
    checks the generic metrics()/lineage() surface without the
    digest-only total_weight column."""
    from go_tdigest_spark.operators import (
        hll_partials,
        merge_sketches,
        theta_agg,
        theta_partials,
    )
    from go_tdigest_spark.sketches import HLL, ThetaSketch

    src = str(tmp_path / "input")
    ev = table(spark, SF_TINY, "events").select("event_type", "user_id")
    ev.repartition(8).write.parquet(src)

    ckpt = str(tmp_path / "ckpt_theta")
    job = CheckpointedSketchJob(
        spark,
        src,
        ckpt,
        partials_fn=lambda df: theta_partials(
            df, ["user_id"], ["event_type"], k=128
        ),
        merge_fn=lambda p, n: merge_sketches(
            p, ["event_type"], ThetaSketch.from_bytes, n_units=n
        ),
        n_epochs=4,
    )
    job.run(max_epochs=2)
    assert job.completed_epochs() == [0, 1]
    final = job.run(resume=True).toPandas().set_index("event_type")
    assert job.completed_epochs() == [0, 1, 2, 3]
    batch = (
        theta_agg(ev, ["user_id"], by=["event_type"], k=128)
        .toPandas()
        .set_index("event_type")
    )
    assert set(final.index) == set(batch.index)
    for et in final.index:
        assert bytes(final.loc[et]["sketch"]) == bytes(batch.loc[et]["sketch"])
        assert final.loc[et]["n_rows"] == batch.loc[et]["n_rows"]

    ckpt2 = str(tmp_path / "ckpt_hll")
    job2 = CheckpointedSketchJob(
        spark,
        src,
        ckpt2,
        partials_fn=lambda df: hll_partials(df, ["user_id"], ["event_type"]),
        merge_fn=lambda p, n: merge_sketches(
            p, ["event_type"], HLL.from_bytes, n_units=n
        ),
        n_epochs=3,
    )
    merged = job2.run().toPandas().set_index("event_type")
    truth = (
        ev.where("user_id IS NOT NULL")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"), F.count("*").alias("n"))
        .toPandas()
        .set_index("event_type")
    )
    for et, row in merged.iterrows():
        est = HLL.from_bytes(bytes(row["sketch"])).estimate()
        assert abs(est - truth.loc[et]["d"]) / truth.loc[et]["d"] <= 0.05
        assert row["n_rows"] == truth.loc[et]["n"]
    met = job2.metrics().toPandas()
    assert set(met["epoch"]) == {0, 1, 2}
    assert "weight" not in met.columns
    assert met["rows"].sum() == truth["n"].sum()


def test_cut_duplicate_spans_doc_id_col(spark):
    """id_col named 'doc' (the natural name — the sibling APIs emit it)
    must survive into the output; pre-fix .drop("doc") deleted it."""
    from go_tdigest_spark.operators.dedup import cut_duplicate_spans

    rows = [(1, "a b c d e a b"), (2, "x c d y"), (3, None)]
    df = spark.createDataFrame(rows, "doc long, text string")
    out = cut_duplicate_spans(df, "text", "doc", n=2)
    assert "doc" in out.columns
    got = {r["doc"]: r["text_dedup"] for r in out.collect()}
    assert got[1] == "e" and got[2] == "x y" and got[3] is None

    # reserved-name collisions fail loudly
    bad = spark.createDataFrame([(1, "a", "x")], "doc long, text string, _spans string")
    with pytest.raises(ValueError, match="reserved"):
        cut_duplicate_spans(bad, "text", "doc", n=2)


def test_release_dedup_caches(spark):
    """The module registry releases persisted tables even after the
    caller transformed the returned DataFrame."""
    from go_tdigest_spark.operators import release_dedup_caches
    from go_tdigest_spark.operators.dedup import minhash_lsh_pairs

    release_dedup_caches()  # drain anything earlier tests left behind
    rows = [
        (i, "the quick brown fox " * 5 + f"tail {i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "text", "doc_id", n_hashes=16, bands=4)
    filtered = pairs.where(F.col("est_jaccard") > 0)
    filtered.count()
    assert release_dedup_caches() >= 1
    assert release_dedup_caches() == 0  # drained, idempotent

    # the registry holds every library persist, not only dedup's: the
    # range-path pack table and rollup's finest level (no hint)
    from go_tdigest_spark.operators import pack_chunks, tdigest_rollup

    jsc = spark.sparkContext._jsc
    n_before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(f"d{i}", i % 2, i + 1) for i in range(20)],
        "doc_id string, grp int, n_tok int",
    )
    pack_chunks(docs, "n_tok", "doc_id", 8, by=["grp"], method="range").count()
    tdigest_rollup(docs, "n_tok", ["grp", "doc_id"]).count()
    assert jsc.getPersistentRDDs().size() == n_before + 2
    assert release_dedup_caches() == 2
    assert jsc.getPersistentRDDs().size() == n_before


def test_duplicate_span_consumers_share_spans(spark):
    """spans= reuse contract: passing a precomputed duplicate_spans
    output to both duplicate_span_stats and cut_duplicate_spans gives
    results identical to each consumer computing its own, and bad spans
    frames fail loudly."""
    from go_tdigest_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_span_stats,
        duplicate_spans,
    )

    rows = [(1, "a b c d e a b"), (2, "x c d y"), (3, "zz yy"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sp = duplicate_spans(df, "text", "doc_id", n=2)

    own_stats = duplicate_span_stats(df, "text", "doc_id", n=2)
    via_stats = duplicate_span_stats(df, "text", "doc_id", n=2, spans=sp)
    assert sorted(map(tuple, own_stats.collect())) == sorted(
        map(tuple, via_stats.collect())
    )

    own_cut = cut_duplicate_spans(df, "text", "doc_id", n=2)
    via_cut = cut_duplicate_spans(df, "text", "doc_id", n=2, spans=sp)
    assert sorted(map(tuple, own_cut.collect())) == sorted(
        map(tuple, via_cut.collect())
    )

    with pytest.raises(ValueError, match="missing columns"):
        duplicate_span_stats(
            df, "text", "doc_id", n=2, spans=sp.drop("span_end")
        )
    with pytest.raises(ValueError, match="missing columns"):
        cut_duplicate_spans(
            df, "text", "doc_id", n=2, spans=sp.select("doc")
        )


def test_streaming_rank_winsorize_stored_digests(spark, tmp_path):
    """Stream-side scoring — the production pattern for the annotators:
    rank/clip live rows against a STORED digest table (stream-static
    broadcast join + the grouped-decode kernel).  Per-row outputs must
    be bitwise equal to the batch run over the same rows with the same
    digests."""
    from go_tdigest_spark.operators import aggregate, tdigest_agg

    src = str(tmp_path / "rk_src")
    ckpt = str(tmp_path / "rk_ckpt")
    li = table(spark, SF_TINY, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    li.repartition(4).write.parquet(src)
    # genuinely STORED digests: digest bytes are merge-order dependent,
    # so re-evaluating the digest subtree inside the streaming query
    # could legitimately produce different (equally valid) bytes —
    # write once, read back, and both runs score against the same table
    dig_path = str(tmp_path / "rk_digests")
    tdigest_agg(li, "l_extendedprice", by=["l_returnflag"]).write.parquet(
        dig_path
    )
    digests = spark.read.parquet(dig_path)

    def score(df):
        ranked = aggregate.tdigest_rank(
            df, "l_extendedprice", by=["l_returnflag"], digests=digests
        )
        return aggregate.tdigest_winsorize(
            ranked,
            "l_extendedprice",
            0.05,
            0.95,
            by=["l_returnflag"],
            digests=digests,
        )

    cols = [
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "pct_rank",
        "l_extendedprice_winsorized",
    ]

    def canon(pdf):
        # (l_orderkey, l_linenumber) is NOT unique in the fixture —
        # canonicalize on every column so duplicate keys line up
        return pdf[cols].sort_values(cols).reset_index(drop=True)

    batch = canon(score(li).select(*cols).toPandas())

    stream = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_returnflag string, "
            "l_extendedprice double"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        score(stream)
        .select(*cols)
        .writeStream.format("memory")
        .queryName("rk_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = canon(spark.sql("select * from rk_stream").toPandas())
    assert len(got) == len(batch)
    assert (got["pct_rank"].to_numpy() == batch["pct_rank"].to_numpy()).all()
    assert (
        got["l_extendedprice_winsorized"].to_numpy()
        == batch["l_extendedprice_winsorized"].to_numpy()
    ).all()


def test_ann_guards_and_multiprobe(spark):
    """Round-4 review fixes: zero-norm query vectors raise loudly
    (ANSI-mode division would otherwise crash the whole job), and
    multiprobe=d probes every bucket within Hamming distance d instead
    of silently behaving as d=1."""
    import numpy as np

    from go_tdigest_spark.operators.ann import cosine_topk, lsh_ann_topk

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    rows.append((99, [0.0] * 8))  # zero-norm vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # zero-norm query -> loud error
    with pytest.raises(Exception, match="zero-norm"):
        cosine_topk(df, "embedding", "vec_id", query_ids=[99], k=3).collect()
    # zero-norm corpus row is just filtered; healthy queries fine
    out = cosine_topk(df, "embedding", "vec_id", query_ids=[0], k=3).collect()
    assert len(out) == 3 and all(r["nn_id"] != 99 for r in out)

    # multiprobe expansion: recall(d=2) >= recall(d=1), and d=2 probes
    # strictly more buckets (1 + C(6,1) + C(6,2) = 22 masks)
    with pytest.raises(ValueError, match="multiprobe"):
        lsh_ann_topk(
            df, "embedding", "vec_id", query_ids=[0], n_planes=6, multiprobe=7
        )
    clean = df.where("vec_id != 99")
    r1 = lsh_ann_topk(
        clean, "embedding", "vec_id", query_ids=[0, 1, 2], k=3,
        n_planes=6, dim=8, multiprobe=1,
    ).collect()
    r2 = lsh_ann_topk(
        clean, "embedding", "vec_id", query_ids=[0, 1, 2], k=3,
        n_planes=6, dim=8, multiprobe=2,
    ).collect()
    # d=2 candidates are a superset -> at least as many results, and
    # every d=1 (query, rank) cosine is <= its d=2 counterpart
    assert len(r2) >= len(r1)
    c1 = {(r["query_id"], r["rank"]): r["cosine"] for r in r1}
    c2 = {(r["query_id"], r["rank"]): r["cosine"] for r in r2}
    for key, v in c1.items():
        if key in c2:
            assert c2[key] >= v


def test_asof_matched_ts_col_collisions(spark):
    from go_tdigest_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 5.0)], "id long, ts string, price double"
    ).select("id", F.col("ts").cast("timestamp"), "price")

    with pytest.raises(ValueError, match="matched_ts_col"):
        asof_join(left, right, "ts", ["id"], ["price"], matched_ts_col="price")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, "ts", ["id"], ["price"], matched_ts_col="_src")


def test_stateful_stream_quantile_names_precise(spark, tmp_path):
    """Column naming keeps full float precision: 0.9999995 and 1.0 are
    DISTINCT quantiles (format(q,'g') collapsed both to 'q1')."""
    from go_tdigest_spark.streaming import tdigest_stateful_stream

    src = str(tmp_path / "qn_src")
    spark.createDataFrame(
        [("a", 1.0)], "k string, v double"
    ).write.parquet(src)
    stream = spark.readStream.schema("k string, v double").parquet(src)
    out = tdigest_stateful_stream(
        stream, "v", "k", quantiles=(1.0, 0.9999995)
    )
    assert "q1_0" in out.columns and "q0_9999995" in out.columns


def test_review_guards_topk_global_hh_reserved_multimodal(spark):
    """Third review pass guards: global sample_topk (by=[]) takes the
    TakeOrderedAndProject path with a parseable SQL twin; heavy_hitters
    rejects reserved-name collisions; frame_sample validates stride;
    binary_features handles non-bigint id types."""
    import duckdb
    import pandas as pd

    from go_tdigest_spark.operators import sample_topk_per_group
    from go_tdigest_spark.operators.multimodal import (
        binary_features,
        frame_sample,
    )
    from go_tdigest_spark.operators.sample import sample_topk_per_group_sql
    from go_tdigest_spark.operators.sketch_agg import heavy_hitters

    # global top-k == duckdb twin
    rows = [(f"k{i:03d}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {r["k"] for r in sample_topk_per_group(df, "k", [], 10, seed=3).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "v"]))
    want = {
        r[0]
        for r in con.execute(
            sample_topk_per_group_sql("t", "k", [], 10, seed=3)
        ).fetchall()
    }
    assert got == want and len(got) == 10

    # heavy_hitters reserved names
    bad = spark.createDataFrame([(1, 2)], "_ch long, x long")
    with pytest.raises(ValueError, match="reserved"):
        heavy_hitters(bad, ["_ch"], phi=0.5)

    # frame_sample stride validation
    bin_df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh"))], "doc_id int, payload binary"
    )
    with pytest.raises(ValueError, match="stride"):
        frame_sample(bin_df, "payload", "doc_id", stride=0)
    out = frame_sample(bin_df, "payload", "doc_id", stride=2).collect()
    assert bytes(out[0]["frames"]) == b"aceg"

    # binary_features with an INT (not bigint) id column
    feats = binary_features(bin_df, "payload", "doc_id").collect()
    assert feats[0]["doc"] == 1 and feats[0]["n_bytes"] == 8


def test_compact_stream_state(spark, tmp_path):
    """Compaction rewrites all-but-the-newest committed batch dirs into
    one, preserves the merged digests bit-for-bit (rows verbatim), and
    resumes a crash between the tmp commit and the finish step."""
    import json
    import os
    import shutil

    from go_tdigest_spark.streaming import (
        compact_stream_state,
        read_stream_digests,
        tdigest_stream_writer,
    )

    src = str(tmp_path / "cp_src")
    state = str(tmp_path / "cp_state")
    ckpt = str(tmp_path / "cp_ckpt")
    li = table(spark, SF_TINY, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    li.repartition(8).write.parquet(src)
    stream = (
        spark.readStream.schema("l_returnflag string, l_extendedprice double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        tdigest_stream_writer(
            stream, "l_extendedprice", ["l_returnflag"], state, ckpt
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    def batch_dirs():
        return sorted(
            d for d in os.listdir(state) if d.startswith("batch_id=")
        )

    before_dirs = batch_dirs()
    assert len(before_dirs) >= 4
    before = {
        r["l_returnflag"]: bytes(r["digest"])
        for r in read_stream_digests(spark, state, ["l_returnflag"]).collect()
    }

    n = compact_stream_state(spark, state, keep_last=1)
    assert n == len(before_dirs) - 1
    after_dirs = batch_dirs()
    # compacted prefix is ONE dir (named after its highest source id)
    # plus the untouched newest batch
    assert len(after_dirs) == 2
    after = {
        r["l_returnflag"]: bytes(r["digest"])
        for r in read_stream_digests(spark, state, ["l_returnflag"]).collect()
    }
    assert after == before  # rows verbatim -> merge-on-read identical

    # idempotent: nothing left to compact (needs >= 2 sources)
    assert compact_stream_state(spark, state, keep_last=1) == 0
    # keep_last=0 folds the remaining two into one
    assert compact_stream_state(spark, state, keep_last=0) == 2
    assert len(batch_dirs()) == 1
    final = {
        r["l_returnflag"]: bytes(r["digest"])
        for r in read_stream_digests(spark, state, ["l_returnflag"]).collect()
    }
    assert final == before

    # crash-resume: simulate a crash after the tmp commit but before
    # the finish step (move the committed dir to _compact_tmp and
    # write a manifest naming it as its own source via a copy)
    only = batch_dirs()[0]
    tmp_dir = os.path.join(state, "_compact_tmp")
    shutil.copytree(os.path.join(state, only), tmp_dir)
    with open(os.path.join(tmp_dir, "_MANIFEST.json"), "w") as f:
        json.dump(
            {"sources": [os.path.join(state, only)], "target_id": 99}, f
        )
    assert compact_stream_state(spark, state) == 1  # finishes the rename
    assert batch_dirs() == ["batch_id=99"]
    resumed = {
        r["l_returnflag"]: bytes(r["digest"])
        for r in read_stream_digests(spark, state, ["l_returnflag"]).collect()
    }
    assert resumed == before


def test_stream_batches_listed_in_numeric_order(spark, tmp_path):
    """The shared listing returns committed dirs in numeric id order
    (batch_id=10 after batch_id=2) and skips unmarked ones."""
    root = tmp_path / "state"
    for b in (10, 2, 1, 3):
        d = root / f"batch_id={b}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
        if b != 3:
            (d / "_SUCCESS").write_text("")
    got = commit.committed_dirs(spark, str(root), "batch_id")
    assert [n for n, _, _ in got] == [1, 2, 10]
    assert [len(fl) for _, _, fl in got] == [1, 1, 1]
    assert commit.committed_dirs(spark, str(tmp_path / "none"), "batch_id") == []


@pytest.mark.parametrize("torn", ["stray_manifest_tmp", "torn_manifest"])
def test_compact_survives_crash_while_publishing_manifest(spark, tmp_path, torn):
    """A crash while the compaction manifest is written: a committed
    ``_compact_tmp`` holding only a stray ``_MANIFEST.json.tmp`` is redone
    (merge-on-read stays byte-equal); a torn ``_MANIFEST.json`` fails with
    a ValueError naming the file and the directory to delete, and
    touches no source batch."""
    from go_tdigest_spark.streaming import compact_stream_state

    state = str(tmp_path / "state")
    li = table(spark, SF_TINY, "lineitem").select("l_returnflag", "l_extendedprice")
    partials = build_partials(li, "l_extendedprice", ["l_returnflag"])
    for b in range(4):
        partials.write.parquet(f"{state}/batch_id={b}")

    def digests():
        return {
            r["l_returnflag"]: bytes(r["digest"])
            for r in read_stream_digests(spark, state, ["l_returnflag"]).collect()
        }

    before = digests()
    tmp_dir = os.path.join(state, "_compact_tmp")
    shutil.copytree(os.path.join(state, "batch_id=0"), tmp_dir)
    assert os.path.exists(os.path.join(tmp_dir, "_SUCCESS"))
    name = "_MANIFEST.json.tmp" if torn == "stray_manifest_tmp" else "_MANIFEST.json"
    with open(os.path.join(tmp_dir, name), "w") as f:
        f.write('{"sources": ["')

    if torn == "stray_manifest_tmp":
        assert compact_stream_state(spark, state, keep_last=1) == 3
        assert sorted(os.listdir(state)) == ["batch_id=2", "batch_id=3"]
        assert digests() == before
    else:
        with pytest.raises(
            ValueError,
            match=r"corrupt compaction manifest .*_compact_tmp/_MANIFEST\.json"
            r".*delete .*_compact_tmp to restart",
        ):
            compact_stream_state(spark, state, keep_last=1)
        assert sorted(os.listdir(state)) == [
            "_compact_tmp", "batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3",
        ]
        assert digests() == before


@pytest.mark.parametrize("sketch", ["tdigest", "theta"])
def test_checkpoint_epoch_killed_mid_write_resumes(spark, tmp_path, sketch):
    """An epoch killed mid-write leaves data files and no _SUCCESS: it
    is not committed, merged() ignores it, and run(resume=True) rewrites
    it without touching committed epochs; the final sketches equal a
    one-shot batch build (count/min/max for the digest, bytes for
    theta).  Both sketches run through the one job class."""
    from go_tdigest_spark.operators import (
        merge_sketches,
        tdigest_agg,
        theta_agg,
        theta_partials,
    )
    from go_tdigest_spark.sketches import ThetaSketch

    src = str(tmp_path / "input")
    ckpt = str(tmp_path / "ckpt")
    if sketch == "tdigest":
        by, value = ["l_returnflag"], "l_extendedprice"
        data = table(spark, SF_TINY, "lineitem").select(*by, value)
        job = _digest_job(spark, src, ckpt, n_epochs=4)
    else:
        by, value = ["event_type"], "user_id"
        data = table(spark, SF_TINY, "events").select(*by, value)
        job = CheckpointedSketchJob(
            spark,
            src,
            ckpt,
            partials_fn=lambda df: theta_partials(df, [value], by, k=128),
            merge_fn=lambda p, n: merge_sketches(
                p, by, ThetaSketch.from_bytes, n_units=n
            ),
            n_epochs=4,
        )
    data.repartition(8).write.parquet(src)

    job.run(max_epochs=2)
    epoch_dir = {e: os.path.join(ckpt, "partials", f"epoch={e}") for e in (0, 1)}
    os.remove(os.path.join(epoch_dir[1], "_SUCCESS"))  # crash before commit
    stale = set(os.listdir(epoch_dir[1]))
    assert any(not f.startswith(("_", ".")) for f in stale)
    assert job.completed_epochs() == [0]

    import json

    with open(os.path.join(ckpt, "manifest.json")) as f:
        epoch0_files = json.load(f)["epochs"][0]
    epoch0_rows = spark.read.parquet(*epoch0_files).where(
        F.col(value).isNotNull()
    ).count()
    assert int(job.merged().toPandas()["n_rows"].sum()) == epoch0_rows

    mtime0 = os.path.getmtime(os.path.join(epoch_dir[0], "_SUCCESS"))
    final = job.run(resume=True).toPandas().set_index(by[0])
    assert job.completed_epochs() == [0, 1, 2, 3]
    assert os.path.getmtime(os.path.join(epoch_dir[0], "_SUCCESS")) == mtime0
    rewritten = set(os.listdir(epoch_dir[1]))
    assert "_SUCCESS" in rewritten
    assert not {f for f in stale if not f.startswith(("_", "."))} & rewritten

    inp = spark.read.parquet(src)
    if sketch == "tdigest":
        one = tdigest_agg(inp, value, by).toPandas().set_index(by[0])
        assert set(final.index) == set(one.index)
        for k, row in final.iterrows():
            d = serde.decode(bytes(row["digest"]))
            e = serde.decode(bytes(one.loc[k]["digest"]))
            assert d.count == e.count == row["total_weight"]
            assert row["n_rows"] == one.loc[k]["n_rows"]
            assert d.quantile(0.0) == e.quantile(0.0)
            assert d.quantile(1.0) == e.quantile(1.0)
    else:
        one = theta_agg(inp, [value], by=by, k=128).toPandas().set_index(by[0])
        assert set(final.index) == set(one.index)
        for k in final.index:
            assert bytes(final.loc[k]["sketch"]) == bytes(one.loc[k]["sketch"])
            assert final.loc[k]["n_rows"] == one.loc[k]["n_rows"]


def test_sliding_windowed_streaming(spark, tmp_path):
    """slide_duration: every row contributes a partial to EVERY
    overlapping window (2h window sliding 1h = each row in 2 windows);
    per-window digests match the batch sliding-window expansion
    exactly."""
    from go_tdigest_spark.streaming import (
        read_windowed_digests,
        tdigest_windowed_stream_writer,
    )

    src = str(tmp_path / "sw_src")
    state = str(tmp_path / "sw_state")
    ckpt = str(tmp_path / "sw_ckpt")
    ev = table(spark, SF_TINY, "events").select("ts", "event_type", "value")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        tdigest_windowed_stream_writer(
            stream, "value", "ts", ["event_type"], state, ckpt,
            window_duration="2 hours", slide_duration="1 hour",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    merged = read_windowed_digests(spark, state, ["event_type"]).toPandas()
    expect = (
        ev.withColumn(
            "window_start", F.window("ts", "2 hours", "1 hour").start
        )
        .groupBy("window_start", "event_type")
        .agg(F.count("value").alias("n"))
        .toPandas()
        .set_index(["window_start", "event_type"])
    )
    assert len(merged) == len(expect)
    total_window_rows = 0
    for _, row in merged.iterrows():
        d = serde.decode(bytes(row["digest"]))
        e = expect.loc[(row["window_start"], row["event_type"])]
        assert d.count == e["n"]
        total_window_rows += d.count
    # overlap factor 2: window mass is exactly twice the row mass
    assert total_window_rows == 2 * ev.where(F.col("value").isNotNull()).count()
