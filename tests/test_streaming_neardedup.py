"""Streaming near-dedup-on-arrival (streaming/neardedup.py): the
multi-batch union equals the from-scratch batch pair set, each pair
emits exactly once, and the index accumulates to the full banded
frame."""

from __future__ import annotations

from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.dedup import (
    lsh_banded,
    lsh_candidate_pairs,
    minhash_signatures,
)
from workshoop2_etl_spark.streaming.neardedup import near_dedup_on_arrival


def _docs(spark, n=48):
    rows = []
    for i in range(n):
        base = f"the quick brown fox {i // 4} jumps over the lazy dog " * 3
        rows.append((i, base + f" tail{min(i % 4, 2)}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_multibatch_union_equals_batch_pairs(spark, tmp_path):
    base = str(tmp_path / "ndoa")
    src = f"{base}/src"
    docs = _docs(spark)
    # four source files -> four micro-batches with maxFilesPerTrigger=1
    for part in range(4):
        docs.filter(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    near_dedup_on_arrival(
        stream,
        f"{base}/index",
        f"{base}/pairs",
        f"{base}/ckpt",
    )
    got = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(f"{base}/pairs").collect()
    ]
    # exactly-once emission: no duplicate pairs across batches
    assert len(got) == len(set(got))
    expected = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(docs, "doc_id", "text"),
            "doc_id",
            max_bucket_size=None,
        ).collect()
    }
    assert set(got) == expected
    assert expected, "fixture produced no pairs"
    # and the accumulated index equals the from-scratch banded frame
    idx = spark.read.parquet(f"{base}/index")
    direct = lsh_banded(
        minhash_signatures(docs, "doc_id", "text"), "doc_id"
    )
    key = ["doc_id", "band", "bh"]
    assert sorted(map(tuple, idx.select(key).collect())) == sorted(
        map(tuple, direct.select(key).collect())
    )


def test_resume_from_checkpoint_continues_index(spark, tmp_path):
    """A second activation over new files resumes from the checkpoint:
    only the new files process, and their pairs land against the
    existing index (no re-emission of old pairs)."""
    base = str(tmp_path / "ndoa2")
    src = f"{base}/src"
    docs = _docs(spark, n=40)
    first = docs.filter("doc_id < 32")
    second = docs.filter("doc_id >= 32")
    first.coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(src)
        near_dedup_on_arrival(
            stream, f"{base}/index", f"{base}/pairs", f"{base}/ckpt"
        )

    run()
    n_pairs_1 = spark.read.parquet(f"{base}/pairs").count()
    second.coalesce(1).write.mode("append").parquet(src)
    run()
    got = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(f"{base}/pairs").collect()
    ]
    assert len(got) == len(set(got))  # still exactly-once
    expected = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(docs, "doc_id", "text"),
            "doc_id",
            max_bucket_size=None,
        ).collect()
    }
    assert set(got) == expected
    assert len(got) > n_pairs_1  # the second activation added pairs


def test_first_activation_missing_index_dir_no_local_fs(spark, tmp_path):
    """Index discovery is a schema-pinned Spark read, not an os.path
    walk (r8 VERDICT: a driver-local isdir/listdir silently sees
    nothing on HDFS/S3). First activation against a MISSING index dir
    must bootstrap an empty index via the AnalysisException branch and
    still emit the batch's pairs — and the handler source contains no
    os.path call to regress to."""
    import inspect

    import workshoop2_etl_spark.streaming.neardedup as nd

    src_text = inspect.getsource(nd)
    assert "import os" not in src_text  # no local-FS API available at all

    base = str(tmp_path / "ndoa_nofs")
    src = f"{base}/src"
    docs = _docs(spark, n=16)
    docs.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    # index/pairs/checkpoint dirs all nonexistent: the first handle()
    # call exercises the missing-path read probe
    near_dedup_on_arrival(
        stream,
        f"{base}/index",
        f"{base}/pairs",
        f"{base}/ckpt",
        timeout_sec=120,
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(f"{base}/pairs").collect()
    }
    expected = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(docs, "doc_id", "text"),
            "doc_id",
            max_bucket_size=None,
        ).collect()
    }
    assert got == expected and got
    # the index accumulated the full banded frame
    assert spark.read.parquet(f"{base}/index").count() == lsh_banded(
        minhash_signatures(docs, "doc_id", "text"), "doc_id"
    ).count()


def test_crawl_ingest_multibatch_union_equals_batch(spark, tmp_path):
    """r9 VERDICT task 7 — the composed production ingest shape: a
    stream of WARC file blobs (one gzip, three plain) drains batch by
    batch through frame-walk -> charset decode -> HTML extract ->
    LSH fold-on-arrival; the accumulated pairs equal the from-scratch
    batch LSH pairs over the same extracted texts, each exactly once."""
    from workshoop2_etl_spark.operators.htmlextract import synthesize_html
    from workshoop2_etl_spark.operators.warc import (
        gzip_warc_record,
        synthesize_warc_record,
    )
    from workshoop2_etl_spark.streaming.neardedup import (
        crawl_neardedup_on_arrival,
        crawl_to_docs,
    )

    base = str(tmp_path / "crawlnd")
    src = f"{base}/src"
    docs = _docs(spark, n=32)
    pages = {
        r["doc_id"]: r["html"]
        for r in synthesize_html(docs).select("doc_id", "html").collect()
    }
    # four blob files -> four micro-batches; file 2 is .warc.gz
    for part in range(4):
        ids = sorted(i for i in pages if i % 4 == part)
        recs = [
            synthesize_warc_record(
                i, pages[i], host=f"www.site{i % 7}.com"
            )
            for i in ids
        ]
        if part == 2:
            blob = b"".join(gzip_warc_record(r) for r in recs)
        else:
            blob = b"".join(recs)
        spark.createDataFrame([(blob,)], "content binary").coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("content binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    crawl_neardedup_on_arrival(
        stream, f"{base}/index", f"{base}/pairs", f"{base}/ckpt"
    )
    got = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(f"{base}/pairs").collect()
    ]
    assert len(got) == len(set(got))  # exactly-once across batches

    # from-scratch batch reference over the SAME extraction kernel
    blobs = spark.read.parquet(src)
    extracted = crawl_to_docs(blobs)
    assert extracted.count() == 32  # every record survived ingest
    expected = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(extracted, "doc_id", "text"),
            "doc_id",
            max_bucket_size=None,
        ).collect()
    }
    assert set(got) == expected
    assert expected, "fixture produced no pairs"


def test_crawl_to_docs_poison_tolerance(spark):
    """Regression (round-10 self-review): real crawl blobs carry
    warcinfo/request records and responses whose URIs don't match the
    id pattern — they must be DROPPED, not ANSI-cast-crash the batch
    or be folded into the index as garbage docs."""
    from workshoop2_etl_spark.operators.warc import synthesize_warc_record
    from workshoop2_etl_spark.streaming.neardedup import crawl_to_docs

    good = synthesize_warc_record(
        7, "<html><body><p>keep me</p></body></html>", host="www.h.com"
    )
    # response whose URI does NOT end in pageN
    odd_uri = good.replace(
        b"WARC-Target-URI: http://www.h.com/page7",
        b"WARC-Target-URI: http://www.h.com/index.html",
    )
    warcinfo = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"Content-Length: 9\r\n\r\nrobots: x\r\n\r\n"
    )
    blob = warcinfo + odd_uri + good
    blobs = spark.createDataFrame([(blob,)], "content binary")
    rows = crawl_to_docs(blobs).collect()
    assert [(r["doc_id"], r["text"]) for r in rows] == [(7, "keep me")]
