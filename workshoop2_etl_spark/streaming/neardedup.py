"""Near-dedup ON ARRIVAL: the streaming composition of the
incremental LSH index (operators/dedup.py ``lsh_index_refresh``) —
every micro-batch of arriving documents is signed, banded, probed
against the persisted index, and folded into it, so candidate pairs
surface WITH the data instead of in a nightly recompute.

This is the production ingestion story at 100 TB: the corpus index
(the ``(id, band, bh)`` banded frame, parquet) grows append-only;
per batch the work is delta-sized (signatures for the batch alone,
Σ (delta-in-bucket · bucket) candidate probing); and the emission
contract is exact and non-duplicating:

    every candidate pair is emitted EXACTLY ONCE — in the batch where
    its LATER member arrives —

because a pair needs ≥1 member in the probing delta, and once both
members are in the index neither is ever a delta again. Union over
batches therefore equals the from-scratch batch pair set (the
maintenance identity of ``lsh_index_refresh``, applied inductively;
proven over a multi-batch stream in tests/test_streaming_neardedup.py).

Crash semantics: the pairs/index appends here are plain parquet
appends — at-least-once under a mid-batch crash replay. The
exactly-once production variant routes both writes through
``sources.versioned.foreach_batch_versioned_sink`` (batch id recorded
in the manifest, replays become no-ops); this module keeps the
data-path logic separate from the commit protocol deliberately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException


def fold_docs_into_index(
    docs_df: DataFrame,
    index_dir: str,
    pairs_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """ONE batch of documents → signed, banded, probed against the
    persisted index, folded in; delta-introduced candidate pairs
    appended to ``pairs_dir``. The shared per-batch kernel of every
    on-arrival variant (raw docs, crawl-extracted docs): delta-sized
    work, exactly-once pair emission by the maintenance identity."""
    from workshoop2_etl_spark.operators.dedup import (
        lsh_banded,
        lsh_index_refresh,
        minhash_signatures,
    )
    from workshoop2_etl_spark.sources.readers import (
        ensure_parallelism,
        from_records,
    )

    spark = docs_df.sparkSession
    # A micro-batch often arrives as ONE scan partition (one file per
    # trigger), serializing the CPU-heavy shingle+minhash kernel on a
    # single core; the guard repartitions only under-split batches
    # and is a no-op once batches carry enough files (r14 opt,
    # guide §2.5 input skew / §1.2 per-task work).
    banded_delta = lsh_banded(
        minhash_signatures(
            ensure_parallelism(docs_df.select(id_col, text_col)),
            id_col,
            text_col,
            num_hashes=num_hashes,
        ),
        id_col,
        num_hashes=num_hashes,
        bands=bands,
    ).localCheckpoint(eager=True)
    # Index discovery must work on ANY Hadoop-compatible store
    # (HDFS/S3/local): schema-pinned read + AnalysisException probe
    # instead of a driver-local listdir (see module docstring).
    try:
        banded_base = spark.read.schema(banded_delta.schema).parquet(
            index_dir
        )
    except AnalysisException:
        banded_base = from_records(spark, [], banded_delta.schema)
    _, new_pairs = lsh_index_refresh(banded_base, banded_delta, id_col)
    new_pairs.write.mode("append").parquet(pairs_dir)
    banded_delta.write.mode("append").parquet(index_dir)


def near_dedup_on_arrival(
    stream_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    timeout_sec: int = 300,
) -> None:
    """Drain the document stream with ``Trigger.AvailableNow``,
    folding each micro-batch into the persisted LSH index and
    appending the delta-introduced candidate pairs.

    ``index_dir`` holds the banded index (append-only parquet);
    ``pairs_dir`` accumulates one row per emitted candidate pair.
    Both start empty on first activation; a later activation resumes
    from the checkpoint and the index picks up where it left off.
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        fold_docs_into_index(
            batch_df,
            index_dir,
            pairs_dir,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
        )

    q = (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    from workshoop2_etl_spark.streaming.events import await_activation

    await_activation(q, timeout_sec, "near-dedup-on-arrival")


def crawl_to_docs(
    blobs_df: DataFrame,
    *,
    blob_col: str = "content",
    id_pattern: str = r"page(\d+)$",
) -> DataFrame:
    """One batch of ``.warc``/``.warc.gz`` file blobs → extracted
    document rows ``(doc_id, text)``: WARC frame walk → per-record
    charset-sniffed byte decode → stdlib HTML main-text extraction,
    doc ids recovered from the parsed WARC-Target-URIs. This is the
    batch kernel :func:`crawl_neardedup_on_arrival` applies per
    micro-batch — all three steps are Arrow-batched pure maps, so
    the composition adds NO shuffle to the per-batch plan."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.charset import decode_bytes
    from workshoop2_etl_spark.operators.htmlextract import html_to_text
    from workshoop2_etl_spark.operators.warc import parse_warc_blobs

    # Poison tolerance (real crawls, not just the fixture): keep only
    # HTTP response records — warcinfo/request/metadata must not be
    # HTML-extracted into the index — and derive doc ids with
    # try_cast over a NULLIF'd extract: a URI that doesn't match
    # id_pattern yields NULL (row dropped), never an ANSI cast error
    # that would kill the whole micro-batch.
    parsed = parse_warc_blobs(blobs_df, blob_col, id_cols=[]).where(
        F.col("warc_type") == "response"
    )
    decoded = decode_bytes(
        parsed.select(
            F.nullif(
                F.regexp_extract("target_uri", id_pattern, 1), F.lit("")
            )
            .try_cast("long")
            .alias("doc_id"),
            "payload",
        ),
        "payload",
        out_col="html",
        id_cols=["doc_id"],
    ).where(F.col("doc_id").isNotNull())
    return html_to_text(
        decoded.select("doc_id", "html"), "html", id_cols=["doc_id"]
    ).select("doc_id", "text")


def crawl_neardedup_on_arrival(
    stream_blobs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    *,
    blob_col: str = "content",
    num_hashes: int = 64,
    bands: int = 16,
    timeout_sec: int = 300,
) -> None:
    """The two flagship compositions MEETING (r9 VERDICT task 7): a
    stream of raw crawl file blobs drains through foreachBatch, each
    micro-batch running the full ingest chain — WARC framing →
    charset decode → HTML extraction — and folding the extracted
    documents into the persisted LSH index on arrival. This is the
    production ingest shape: CommonCrawl files land, text and
    near-duplicate candidates surface with the data, per-batch cost
    delta-sized, every pair emitted exactly once (the batch its later
    member arrives — same identity as :func:`near_dedup_on_arrival`,
    the extraction being a pure per-record map leaves it intact)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        docs = crawl_to_docs(batch_df, blob_col=blob_col)
        fold_docs_into_index(
            docs,
            index_dir,
            pairs_dir,
            num_hashes=num_hashes,
            bands=bands,
        )

    q = (
        stream_blobs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    from workshoop2_etl_spark.streaming.events import await_activation

    await_activation(q, timeout_sec, "crawl-near-dedup-on-arrival")
