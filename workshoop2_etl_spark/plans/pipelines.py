"""The reference's three pipelines as composed, lazy Spark plans.

Where the reference runs eager pandas inside Airflow tasks with XCom
record-shipping and subprocess boundaries between every step
(reference SURVEY.md §3), the engine expresses each pipeline as ONE
logical plan — Catalyst sees the whole thing, so filters and column
pruning reach the scans, and the only materialization points are the
ones the user asks for (an optional parquet checkpoint, mirroring the
reference's inter-stage handoff file, dags/merge_to_dw.py:87-92).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.cleaning import (
    dedup_rows,
    mode_or_first_dedup,
    recode_with_default,
)
from workshoop2_etl_spark.operators.merge import full_outer_with_indicator
from workshoop2_etl_spark.operators.star import build_dim, resolve_fk
from workshoop2_etl_spark.sources.contracts import require_columns


def clean_pipeline(
    df: DataFrame,
    *,
    required: Sequence[str],
    recode_col: str | None = None,
    recode_map: Mapping[str, Sequence[str]] | None = None,
    recode_out: Sequence[str] = (),
    recode_defaults: Sequence[Column | None] = (),
    dedup_key: str | None = None,
    mode_col: str | None = None,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """The ``spotify_clean`` DAG shape (reference
    dags/limpiezaSpotify.py:72-105): required-columns check → lookup
    recode with defaults → drop source col → mode-or-first dedup →
    distinct. All steps optional so the pipeline generalizes beyond
    the music schema."""
    out = require_columns(df, required)
    if recode_col is not None and recode_map is not None:
        out = recode_with_default(out, recode_col, recode_map, recode_out, recode_defaults)
        out = out.drop(recode_col)
    if dedup_key is not None and mode_col is not None:
        out = mode_or_first_dedup(out, dedup_key, mode_col, order_cols)
    return dedup_rows(out)


def merge_pipeline(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """The merge stage of ``etl_spotify_grammys`` (reference
    dags/merge_to_dw.py:47-92): normalize keys → full outer join with
    indicator → optional parquet checkpoint (the reference's
    ``merged_{ts}.parquet`` handoff, S6/S3). The checkpoint is read
    back under the schema it was written with, so the read-back fires
    no schema-inference job (file-source fields come back nullable
    either way)."""
    merged = full_outer_with_indicator(left, right, on)
    if checkpoint_path is not None:
        merged.write.mode("overwrite").parquet(checkpoint_path)
        merged = merged.sparkSession.read.schema(merged.schema).parquet(
            checkpoint_path
        )
    return merged


@dataclass
class DimSpec:
    """One dimension of the star schema: its natural key columns, the
    surrogate key name, carried attribute columns, and whether facts
    require the FK to resolve (reference P11 null routing)."""

    name: str
    natural_keys: Sequence[str]
    surrogate_col: str
    extra_cols: Sequence[str] = field(default_factory=tuple)
    required: bool = False


def star_pipeline(
    src: DataFrame,
    dims: Sequence[DimSpec],
    fact_cols: Sequence[str],
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Set-based warehouse load (reference dags/merge_to_dw.py:124-325,
    redesigned per SURVEY.md §7 step 5): build every dimension from
    the merged source, then resolve all FKs into one fact projection.
    Returns ``({dim_name: dim_df}, fact_df)``.

    Every dim broadcasts during resolution, so the fact side is a
    single scan with K broadcast hash joins — no shuffle at 100 TB.
    """
    dim_tables: dict[str, DataFrame] = {}
    fact = src
    for spec in dims:
        dim = build_dim(src, spec.natural_keys, spec.surrogate_col, extra_cols=spec.extra_cols)
        dim_tables[spec.name] = dim
        fact = resolve_fk(
            fact, dim.select(spec.surrogate_col, *spec.natural_keys),
            spec.natural_keys, spec.surrogate_col, required=spec.required,
        )
    surrogates = [d.surrogate_col for d in dims]
    return dim_tables, fact.select(*surrogates, *fact_cols)


def corpus_pipeline(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    langs: Sequence[str] | None = None,
    neardup_threshold: float = 0.7,
    cache_registry: list | None = None,
) -> DataFrame:
    """End-to-end pretraining-corpus preparation — the composition a
    100 TB data pipeline actually runs, in dependency order chosen so
    each stage shrinks the input of the next:

    1. quality gate (cheap narrow projection, drops the worst rows
       before anything shuffles);
    2. optional language filter (heuristic language ID);
    3. exact content dedup (8-byte hash shuffle);
    4. MinHash-LSH near-dedup corpus filter (bucketed, never
       all-pairs) — runs LAST because it is the expensive stage and
       benefits from every earlier drop.

    Returns surviving rows of ``docs`` with ``lang_pred`` and
    ``quality`` attached. Lazy end to end; the near-dedup stage's
    internal caches are released before return (see
    ``near_dedup_keep``).
    """
    from workshoop2_etl_spark.operators.dedup import (
        exact_dedup,
        near_dedup_keep,
    )
    from workshoop2_etl_spark.operators.textstats import (
        language_id,
        quality_score,
    )

    scored = quality_score(docs, text_col)
    gated = scored.filter(F.col("quality") >= min_quality)
    tagged = language_id(gated, text_col)
    if langs is not None:
        tagged = tagged.filter(F.col("lang_pred").isin(list(langs)))
    exact = exact_dedup(tagged, text_col, id_col)
    # The near-dedup stage drives several passes over `exact`
    # (signatures, candidate-id semi-join, both shingle-set sides),
    # each re-executing the regex-heavy quality + language stack.
    # near_dedup_keep materializes its pair count eagerly, which
    # fills this cache. Without a cache_registry it is released here,
    # leaving ONE recompute (the caller's final materialization) —
    # ~8% at sf0.1. WITH a registry the caller owns the release and
    # can keep the cache hot through its own (small) final aggregate
    # + eager checkpoint before releasing — measured 7.9 → 6.1 s at
    # sf0.1 for the registered corpus-prep summary.
    exact = exact.persist()
    kept = near_dedup_keep(
        exact, id_col, text_col, threshold=neardup_threshold
    )
    if cache_registry is not None:
        cache_registry.append(exact)
    else:
        exact.unpersist()
    return kept
