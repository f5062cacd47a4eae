"""Byte-pair encoding: sample-bounded training, distributed apply.

The engine's other token counts are proxies (whitespace and a
BPE-ish regex, textstats.py:35-47); budget-based curation
(sampling.token_budget_sample) ultimately wants counts from the
ACTUAL tokenizer the model will use. This module implements the real
algorithm (Sennrich, Haddow & Birch, "Neural Machine Translation of
Rare Words with Subword Units", ACL 2016) in the standard two-phase
shape every large-corpus tokenizer pipeline uses:

- **Train** (:func:`bpe_train`): merge rules come from a BOUNDED
  seeded sample's word-frequency table (tokenizer vocabularies
  stabilize on a tiny fraction of a 100 TB corpus — the same
  train-on-sample/serve-everything contract as the IVF/PQ
  quantizers). Driver-side pure Python over the word-freq dict;
  deterministic: ties on pair frequency break lexicographically.
- **Apply** (:func:`bpe_apply`): merges broadcast as a rank dict;
  each task tokenizes its DISTINCT words once (corpora are
  Zipfian — the memo hit rate is the point) and maps results back.
  Merging is the GPT-2-style loop: repeatedly fuse the
  lowest-ranked adjacent pair until none ranks.

Both halves are deterministic functions of (sample, vocab_size), so
tests assert exact token sequences and the lossless-roundtrip
invariant (tokens reconstruct the pre-tokenized words).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.dedup import tokens_expr
from workshoop2_etl_spark.operators.rows import map_rows

#: End-of-word sentinel appended to each pre-tokenized word so merges
#: can distinguish word-final from word-internal contexts (the ACL'16
#: formulation).
EOW = "</w>"


def _pretokenize(text: str) -> list[str]:
    return [w for w in text.lower().split() if w]


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    num_merges: int = 200,
    max_train_docs: int = 10_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merge rules from a bounded sample of the
    corpus. Returns the ordered merge list (rank = position).

    The word-frequency table is built distributively (explode →
    groupBy — one shuffle of (word, count) pairs); only that table
    (vocabulary-sized, capped via ``max_train_docs``) reaches the
    driver, never documents. Pair statistics then iterate over the
    word-freq dict in pure Python — the textbook algorithm, exact,
    deterministic (count desc, pair lexicographic asc).
    """
    toks = tokens_expr(text_col)
    wf_rows = (
        df.limit(max_train_docs)
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        (*r["w"], EOW): int(r["n"]) for r in wf_rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for word, n in vocab.items():
            for a, b in zip(word, word[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for word, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(word):
                if (
                    i + 1 < len(word)
                    and word[i] == best[0]
                    and word[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word, lowest rank first (GPT-2 loop)."""
    parts: list[str] = [*word, EOW]
    while len(parts) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(parts, parts[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return parts


def bpe_apply(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize every document with the trained merges.

    The rank dict broadcasts in the kernel closure (merge lists are
    KB-scale). Each task encodes its DISTINCT words once through a
    word memo and maps per-document token lists back through it — on
    Zipfian text the encode loop runs for the vocabulary, not the
    corpus. Runs on the Arrow row shell
    (:func:`operators.rows.map_rows`), so ``id_col`` passes through
    unconverted. Output: ``id_col``, ``out_col`` (array<string>),
    ``n_bpe`` (int).
    """
    ranks = {pair: i for i, pair in enumerate(merges)}
    memo: dict[str, list[str]] = {}

    def tokenize(text):
        out: list[str] = []
        for w in _pretokenize(text or ""):
            got = memo.get(w)
            if got is None:
                got = memo[w] = _encode_word(w, ranks)
            out.extend(got)
        return out, len(out)

    return map_rows(
        df,
        [text_col],
        tokenize,
        [
            T.StructField(out_col, T.ArrayType(T.StringType())),
            T.StructField("n_bpe", T.IntegerType()),
        ],
        keep=[id_col],
    )
