"""Byte-pair-encoding tokenizer: corpus-scale training + encoding.

The corpus operators (`ops/text.py:tokens`) see whitespace tokens; a
training-data pipeline ultimately feeds a LEARNED subword tokenizer.
This module implements classic BPE (Sennrich et al. 2016) the way
production tokenizer trainers actually scale:

* :func:`word_freqs` — the ONLY corpus-scale pass: ONE partial-agg
  groupBy over lowercase whitespace words.  This is the architectural
  point — HuggingFace tokenizers / SentencePiece train from a word→count
  table, not from the raw corpus, because the distinct-word table is the
  Zipf head (10^6–10^7 rows even for a 10^12-token corpus).  Spark does
  this reduction; nothing later touches the corpus again until encode.
* :func:`train_bpe` — the merge loop over the COLLECTED word-frequency
  table.  The collect is deliberate and bounded, not a scale bug: the
  input is the word-freq table (capped explicitly via ``max_words`` /
  ``min_freq``), each iteration is O(vocab × word-length), and the loop
  is inherently sequential (merge i+1's counts depend on merge i) — the
  same reason every production trainer runs this part on one node.
  Determinism: ties on pair count break to the lexicographically
  smallest pair, so the merge list is a pure function of the counts.
* :func:`bpe_encode` — corpus encoding: merges ship to executors in the
  UDF closure (a ≤vocab-size list — the broadcast-dim pattern), applied
  in priority order per word with per-batch word memoization (Zipf again:
  a 10k-row Arrow batch hits a few hundred distinct words).  ONE
  mapInArrow stage, zero shuffle.

Word model: character symbols plus a terminal ``</w>`` symbol (the
original BPE formulation), so merges can distinguish word-final from
word-internal contexts.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark.spark.pipeline import to_arrow

EOW = "</w>"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercase whitespace tokens — ONE groupBy with
    map-side partials; the corpus-scale step of tokenizer training."""
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "word"
        )
    ).filter(F.length("word") > 0)
    return tok.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    counts: Counter = Counter()
    for syms, freq in vocab.items():
        for i in range(len(syms) - 1):
            counts[(syms[i], syms[i + 1])] += freq
    return counts


def _merge_word(
    syms: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    """Merge every (left-to-right, non-overlapping) occurrence of pair."""
    out: list[str] = []
    i = 0
    joined = pair[0] + pair[1]
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(joined)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe(
    freqs: "DataFrame | Sequence[tuple[str, int]]",
    n_merges: int,
    min_freq: int = 1,
    max_words: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a word-frequency table.

    Accepts the :func:`word_freqs` DataFrame (collected here — see module
    docstring for why that is the correct architecture) or an in-memory
    (word, freq) sequence.  Returns the ordered merge list.  Stops early
    when no pair occurs twice (merging a count-1 pair learns noise)."""
    if isinstance(freqs, DataFrame):
        # deterministic cap: highest-frequency words first, word as
        # tie-break — the Zipf head carries all trainable pair mass
        rows = (
            freqs.filter(F.col("freq") >= min_freq)
            .orderBy(F.desc("freq"), "word")
            .limit(max_words)
            .collect()
        )
        pairs_in = [(r["word"], r["freq"]) for r in rows]
    else:
        pairs_in = [(w, f) for w, f in freqs if f >= min_freq][:max_words]
    vocab: dict[tuple[str, ...], int] = {}
    for word, freq in pairs_in:
        syms = tuple(word) + (EOW,)
        vocab[syms] = vocab.get(syms, 0) + freq
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # max count, ties to the lexicographically smallest pair
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        vocab = {
            _merge_word(syms, best): freq for syms, freq in vocab.items()
        }
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges in priority order (lowest rank first) until none
    applies — the standard BPE encode."""
    syms = tuple(word) + (EOW,)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _merge_word(syms, best_pair)
    return list(syms)


BPE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bpe_text", T.StringType()),
    ]
)


def _encode_batches(ranks: dict[tuple[str, str], int]):
    """The mapInArrow body of :func:`bpe_encode`: (doc_id, text) batches →
    :data:`BPE_SCHEMA` batches, memoizing each word's tokens."""
    arrow_type = to_arrow_type(BPE_SCHEMA)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo: dict[str, list[str]] = {}
        for batch in it:
            rows = []
            docs = zip(batch.column("doc_id").to_pylist(), batch.column("text").to_pylist())
            for did, text in docs:
                words = (text or "").split()
                toks: list[str] = []
                for w in words:
                    enc = memo.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        memo[w] = enc
                    toks.extend(enc)
                rows.append(
                    {
                        "doc_id": did,
                        "n_words": len(words),
                        "n_tokens": len(toks),
                        "bpe_text": " ".join(toks),
                    }
                )
            yield pa.RecordBatch.from_struct_array(to_arrow(rows, arrow_type))

    return batches


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus encode with a learned merge list: ONE mapInArrow stage,
    merges in the closure (the broadcast-dim pattern), per-batch word
    memoization.  Returns (doc_id, n_words, n_tokens, bpe_text) where
    bpe_text is the space-joined token stream (``</w>`` markers kept)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    pruned = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lower(F.trim(F.col(text_col))).alias("text"),
    )
    return pruned.mapInArrow(_encode_batches(ranks), BPE_SCHEMA)


def bpe_decode(
    encoded: DataFrame, bpe_col: str = "bpe_text"
) -> DataFrame:
    """Inverse of :func:`bpe_encode`'s token stream — the release-QA half
    of the tokenizer contract (a corpus shipped as token ids is useless
    unless decode provably reconstructs the text).  BPE with an explicit
    end-of-word marker decodes closed-form: drop the inter-token spaces,
    then every ``</w>`` marker IS a word boundary.

    Adds ``decoded_text`` = the reconstructed (lowercased,
    whitespace-normalized) document.  Exactly inverts encode because
    encode lowercases, splits on whitespace, and rejoins words with
    single spaces — so ``decoded_text == regexp_replace(lower(trim(text)),
    '\\s+', ' ')`` for every document (pinned by the round-trip test and
    the contract oracle).

    Scale shape: ONE pure-codegen projection (two replaces + trim) —
    zero shuffle, zero Python; the decode of a 100 TB token release is a
    scan."""
    return encoded.withColumn(
        "decoded_text",
        F.trim(
            F.replace(
                F.replace(F.col(bpe_col), F.lit(" "), F.lit("")),
                F.lit(EOW),
                F.lit(" "),
            )
        ),
    )


def bpe_roundtrip_check(
    docs: DataFrame,
    encoded: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide decode∘encode identity audit: joins the encoded stream
    back to the source docs and reports per-doc equality of
    ``decoded_text`` against the whitespace-normalized lowercased source.
    Returns (doc_id, ok) — release gates assert ``ok`` is all-true.
    ONE equi-join on doc_id; both sides are projections."""
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), r"\s+", " "
    )
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), norm.alias("_norm")
    )
    dec = bpe_decode(encoded).select("doc_id", "decoded_text")
    return src.join(dec, "doc_id").select(
        "doc_id", (F.col("decoded_text") == F.col("_norm")).alias("ok")
    )
