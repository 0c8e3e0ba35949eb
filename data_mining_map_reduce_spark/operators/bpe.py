"""X37 complete: byte-pair-encoding tokenizer training + encoding
(Sennrich et al. 2016, arXiv:1508.07909 §3.2 — the algorithm every
modern LLM tokenizer descends from; GPT-2's byte-level BPE and
SentencePiece's BPE mode are the same loop over different initial
alphabets).

r16 shipped iteration one (``bpe_pair_counts`` — the merge-candidate
scan); this module closes the loop: LEARN a merge list, ENCODE with
it, and feed real learned-tokenizer token counts to downstream
consumers (X34 sequence packing, token budgets).

Scale design — the paper's own decomposition, made Spark-first:

- The only corpus-sized stage is the word-count collapse (one scan,
  one groupBy: corpus tokens >> distinct words — the zipf cut
  ``bpe_pair_counts`` already used). Everything after operates on
  the DISTINCT-WORD relation, which is vocabulary-bound: its size
  grows with vocabulary, not corpus (31 words at sf0.01, ~10-100 M
  at web scale — still executor-trivial).
- Each merge iteration is one distributed pair-count + argmax
  (driver receives ONE row) + one codegen merge-apply over the word
  relation, re-pinned with an eager localCheckpoint so lineage never
  deepens. Driver state = the merge list (``n_merges`` tuples).
- The merge APPLICATION is a whitespace-encoded left fold
  (``F.aggregate`` — JVM codegen, no UDF): symbols are joined with
  single spaces, and folding symbol ``x`` onto accumulator ``acc``
  concatenates WITHOUT the space exactly when ``acc`` ends with the
  merge's left symbol and ``x`` is its right — the greedy
  left-to-right, non-overlapping application Sennrich's reference
  regex performs. The identical fold runs in DuckDB's
  ``list_reduce``, so the whole training loop is FULL-oracle
  replayable as an iterated CTE chain (see queries.py).
- Encoding is a lookup, not a re-fold: the learner's final
  vocabulary relation (w, c, syms) IS the encode table, and
  ``bpe_token_counts`` joins each document's words against it
  (broadcast, vocabulary-bound). The merge folds run once per
  DISTINCT word while learning, never per occurrence, so encoding
  costs one join and no driver state.

Deltas from the paper, pinned for oracle determinism: no ``</w>``
end-of-word marker (the engine's tokenizer already separates words;
``bpe_pair_counts`` set this convention in r16), and argmax ties
break by (count desc, left, right) — binary collation on both
engines — instead of Python dict order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize, tokenize

__all__ = [
    "bpe_word_counts",
    "bpe_learn",
    "bpe_token_counts",
]

# Local fast path for the merge loop (r17 optimization round): below
# this many DISTINCT words the whole learn loop runs on the driver
# over the collected vocabulary — the kmeans local_elems_cap / CC
# union-find pattern. BPE is EXACT integer arithmetic with a pinned
# (count desc, l, r) tie-break and a string-exact merge fold, so the
# local loop is bit-identical to the distributed one (unlike the
# float-kmeans parity, which is only ulp-close) — pytest-pinned in
# tests/test_bpe.py. Per distributed iteration the engine pays one
# argmax job (~0.3 s of scheduler/AQE latency at bench scale for
# microseconds of math); 16 merges × 3 registered consumers was
# ~10 s of pure job latency. Above the cap — the 100 TB shape, where
# the vocabulary is 10-100 M words — the distributed per-iteration
# loop runs unchanged. 0 disables the local path.
BPE_LOCAL_WORDS_CAP = 2_000_000
# Element-budget companion gate (r18, ADVICE r17): the word-count cap
# alone ignores symbol-array size — near the cap, collect() of
# (w, c, per-char syms) is tens of bytes per SYMBOL of Python objects,
# so a degenerate long-word vocabulary could fit the row cap yet be
# multi-GB on the driver. The materializing aggregate below returns
# Σ length(w) alongside the row count for free; the local path now
# requires BOTH. 16 M symbols ≈ 1-1.5 GB worst-case of driver heap —
# roomy for any natural-language vocabulary at the row cap (~8 chars/
# word average) while refusing the pathological shape. 0 disables the
# element gate.
BPE_LOCAL_ELEMS_CAP = 16_000_000


def _local_bpe_learn(
    rows: list, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int, list[str]]]]:
    """Driver-side replica of the distributed merge loop — EXACTLY
    the same algorithm: overlapping adjacent pairs per distinct word
    weighted by multiplicity (integer sums), argmax with
    (count desc, left, right) tie-break (Python code-point order ==
    Spark/DuckDB binary UTF-8 order), and the same greedy
    left-to-right non-overlapping merge application as ``_fold_merge``
    (merge when the accumulator's LAST symbol equals ``left`` and the
    next symbol equals ``right``)."""
    words: list[tuple[str, int, list[str]]] = [
        (r["w"], int(r["c"]), list(r["syms"])) for r in rows
    ]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for _w, c, syms in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, left, right, n))
        for i, (w, c, syms) in enumerate(words):
            out = [syms[0]]
            for x in syms[1:]:
                if x == right and out[-1] == left:
                    out[-1] = out[-1] + x
                else:
                    out.append(x)
            words[i] = (w, c, out)
    return merges, words


def bpe_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus→vocabulary collapse (the one corpus-sized stage):
    (w, c, syms) — distinct normalized words, occurrence counts, and
    the initial character-symbol array. Same normalize+tokenize
    contract as ``bpe_pair_counts`` (lower + strip punctuation,
    whitespace split)."""
    wc = (
        docs.select(F.explode(tokenize(normalize(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    syms = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substr(F.col("w"), i, F.lit(1)),
    )
    return wc.select("w", "c", syms.alias("syms"))


def _fold_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge (left, right) to
    a symbol array — the whitespace-encoded fold described in the
    module docstring. Pure codegen (aggregate + concat + split);
    symbols never contain spaces (whitespace-tokenized input), so the
    space-joined accumulator encoding is lossless."""
    tail = F.slice(syms, 2, F.size(syms) - 1)
    init = F.element_at(syms, 1)
    folded = F.aggregate(
        tail,
        init,
        lambda acc, x: F.when(
            (x == F.lit(right))
            & ((acc == F.lit(left)) | acc.endswith(" " + left)),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )
    return F.split(folded, " ")


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train a BPE merge list on the corpus (Sennrich §3.2's learner,
    distributed): returns (merges, words) where ``merges`` is
    [(step, left, right, pair_count), ...] in learned order and
    ``words`` is the final vocabulary relation (w, c, syms) with all
    merges applied — the encode table ``bpe_token_counts`` joins
    against.

    Pair counts follow the reference implementation: adjacent symbol
    pairs enumerated per DISTINCT word, overlapping occurrences
    counted, weighted by word multiplicity. Stops early if no pair
    remains (every word a single symbol).

    Eager-action note (the _guard_lsh_verify convention): building
    runs driver actions at call time. Below ``BPE_LOCAL_WORDS_CAP``
    distinct words (the 100 TB path is the distributed loop) the
    loop runs on the driver over the collected vocabulary — 2
    bounded jobs total (count + collect) instead of one argmax job
    per merge, bit-identical output (see
    ``_local_bpe_learn``). On the distributed path this runs
    ``n_merges`` single-row argmax collects; the word-relation
    checkpoints are LAZY (r17 optimization, guide §1.2 "remove
    unnecessary passes"): each iteration's argmax is the action that
    materializes that iteration's checkpoint blocks, so the loop pays
    one job per merge instead of two, with each checkpoint
    materialized exactly once (deterministic relation) before
    anything else reads it. Every action is vocabulary-sized, never
    corpus-sized; driver state is the merge list (plus, on the local
    path only, the guarded vocabulary block)."""
    spark = docs.sparkSession
    words = bpe_word_counts(docs, text_col=text_col).localCheckpoint(eager=False)
    cap, elems_cap = BPE_LOCAL_WORDS_CAP, BPE_LOCAL_ELEMS_CAP
    # the sizing aggregate materializes the lazy checkpoint, so the
    # collect below (and, on the distributed path, the first argmax)
    # reads blocks; Σ length(w) rides the same job as the row count
    # (the element gate — see BPE_LOCAL_ELEMS_CAP)
    n_words, n_syms = 0, 0
    if cap:
        sizing = words.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("w")), F.lit(0)).alias("s"),
        ).collect()[0]
        n_words, n_syms = int(sizing["n"]), int(sizing["s"])
    if cap and n_words <= cap and (not elems_cap or n_syms <= elems_cap):
        merges, final = _local_bpe_learn(words.collect(), n_merges)
        out = spark.createDataFrame(
            final, "w string, c long, syms array<string>"
        )
        return merges, out
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        pair = F.zip_with(
            F.slice("syms", 1, F.size("syms") - 1),
            F.slice("syms", 2, F.size("syms") - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        best = (
            words.where(F.size("syms") >= 2)
            .select("c", F.explode(pair).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("c").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((step, l, r, n))
        words = words.withColumn(
            "syms", _fold_merge(F.col("syms"), l, r)
        ).localCheckpoint(eager=False)
    return merges, words


def bpe_token_counts(
    docs: DataFrame,
    words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document LEARNED-tokenizer token counts: (id, n_tokens_ws,
    n_tokens_bpe). Encodes via the vocabulary relation, not per-doc
    folding — each doc explodes to its words, joins the (broadcast,
    vocabulary-bound) encode table, and sums symbol counts; word
    occurrences not in ``words`` (impossible when trained on the same
    corpus) would count their character length via the coalesce
    fallback. This is the 100 TB shape: the merge folds run once per
    DISTINCT word, never per occurrence."""
    enc = F.broadcast(
        words.select("w", F.size("syms").cast("long").alias("_n_bpe"))
    )
    tok = docs.select(
        F.col(id_col),
        F.explode(tokenize(normalize(F.col(text_col)))).alias("w"),
    )
    return (
        tok.join(enc, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens_ws"),
            F.sum(F.coalesce("_n_bpe", F.length("w").cast("long"))).alias(
                "n_tokens_bpe"
            ),
        )
    )
