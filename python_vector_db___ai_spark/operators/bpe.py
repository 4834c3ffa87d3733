"""Distributed BPE (byte-pair-encoding) vocabulary induction.

The tokenizer-training step of a pretraining pipeline (Sennrich et
al. 2016; the algorithm behind GPT-2's tokenizer and HuggingFace
``tokenizers``).  The scale split is the standard one those trainers
use:

* the CORPUS-scale step is a single word-frequency aggregation —
  explode to tokens, hash-aggregate on the word key (map-side partial
  combine, postings shape, linear in corpus tokens).  At 100 TB this
  is the only pass that touches the data;
* the merge loop then runs on the WORD-FREQUENCY table, whose size is
  the corpus *vocabulary* (bounded further by ``max_vocab``), not the
  corpus — exactly how HuggingFace/SentencePiece train: distributed
  pre-count, single-node merge loop.  The driver transfer goes
  through the ``collect_small`` guard, so an unexpectedly huge
  vocabulary fails fast instead of flooding the driver.

Determinism contract (replayed bit-for-bit by the unrolled-CTE DuckDB
oracle in ``plans/q_tokenize.py``):

* words = lower-cased whitespace tokens (``dedup.words_col``);
* the candidate vocabulary is the top ``max_vocab`` words by
  ``(count DESC, word ASC)``;
* each round's best pair maximizes summed word-frequency-weighted
  adjacent-pair count, ties broken by lexicographically smallest
  pair;
* the merge is the textbook leftmost-greedy scan, implemented in both
  engines as a string ``replace`` over the DOUBLE-spaced symbol
  string: with tokens joined by two spaces (single-space sentinels at
  the ends) each pattern occurrence ``" a  b "`` consumes one of the
  two separator spaces on each side, leaving one for the neighboring
  occurrence — so consecutive occurrences (``a b a b``) and runs
  (``a a a a``) merge exactly as the greedy scan does.  A
  single-spaced ``replace`` would instead swallow the shared
  separator and silently skip every second occurrence.

Reference analog: none — the reference consumes pre-trained
tokenizers (``day_10/chunkers/token_chunker.py`` wraps tiktoken);
this implements the training side a data-pipeline owner runs.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_vector_db___ai_spark.functions.inline import inline_table
from python_vector_db___ai_spark.operators._guards import collect_small
from python_vector_db___ai_spark.operators.dedup import words_col


def word_frequencies(docs: DataFrame, text_col: str = "text",
                     max_vocab: int = 50_000) -> DataFrame:
    """Corpus word-frequency table, cut to the top ``max_vocab`` words
    by ``(count DESC, word ASC)`` — the one distributed pass."""
    freq = (docs
            .select(F.explode(words_col(F.col(text_col))).alias("word"))
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("c")))
    return (freq.orderBy(F.col("c").desc(), F.col("word").asc())
            .limit(max_vocab))


MERGE_SCHEMA = T.StructType([
    T.StructField("round", T.LongType(), False),
    T.StructField("pair", T.StringType(), False),
    T.StructField("token", T.StringType(), False),
    T.StructField("weight", T.LongType(), False),
])


def bpe_merge_list(word_freq: DataFrame,
                   n_merges: int = 10) -> list[tuple[int, str, str, int]]:
    """The deterministic merge loop; returns
    ``[(round, pair, token, weight), ...]`` (see :func:`bpe_train`)."""
    rows = collect_small(word_freq, "BPE word-frequency table",
                         hint="Lower max_vocab on word_frequencies().")
    # symbol string: chars separated by single spaces
    vocab: list[tuple[str, int]] = [
        (" ".join(r["word"]), int(r["c"])) for r in rows.to_pylist()]

    merges = []
    for rnd in range(1, n_merges + 1):
        counts: Counter = Counter()
        for sym, c in vocab:
            parts = sym.split(" ")
            for i in range(len(parts) - 1):
                counts[(parts[i], parts[i + 1])] += c
        if not counts:
            break
        # max weight, ties → smallest SPACE-JOINED pair string: this is
        # exactly the key the SQL oracle sorts (``ORDER BY pair ASC`` on
        # the string "a b"), and it differs from the tuple (a, b) order
        # when a tied symbol extends another with a char below 0x20
        # (control chars survive the \s+ tokenizer) — round-6 ADVICE.
        (a, b), w = min(counts.items(),
                        key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        merges.append((rnd, f"{a} {b}", a + b, w))
        # greedy merge via double-spaced replace (see module docstring);
        # output stays canonically single-spaced
        pat, rep = f" {a}  {b} ", f" {a + b} "
        vocab = [
            ((" " + sym.replace(" ", "  ") + " ")
             .replace(pat, rep).strip().replace("  ", " "), c)
            for sym, c in vocab]
    return merges


def bpe_train(spark: SparkSession, word_freq: DataFrame,
              n_merges: int = 10) -> DataFrame:
    """Run ``n_merges`` deterministic BPE merge rounds over a word
    frequency table ``(word, c)``.

    Returns one row per merge round:
    ``(round, pair, token, weight)`` where ``pair`` is the merged
    symbol pair (space-separated), ``token`` the resulting symbol and
    ``weight`` the word-frequency-weighted adjacent-pair count that
    won the round.  Stops early if no adjacent pair remains.
    """
    # VALUES-inlined LocalRelation: deterministic rows (the merge loop
    # is deterministic for a given frequency table) canonicalize
    # stably, so downstream cached plans stay matchable across
    # rebuilds — an RDD-backed literal never does (functions/inline.py).
    return inline_table(
        spark, bpe_merge_list(word_freq, n_merges),
        "round long, pair string, token string, weight long")


def bpe_token_count_col(word, merges) -> "F.Column":
    """Pure-expression BPE segmenter: the number of tokens ``word``
    splits into under the learned merge list.

    Builds the space-separated symbol string and applies each merge as
    a literal ``replace`` over the double-spaced form (the greedy-scan
    equivalence proven in the module docstring) — entirely JVM-side,
    no UDF.  Meant to run on the DISTINCT word set (tokenize the
    vocabulary, not the corpus) and join back.
    """
    # chars separated by single spaces; filter drops split()'s
    # trailing empty element
    sym = F.array_join(
        F.filter(F.split(word, ""), lambda ch: ch != ""), " ")
    for _, pair, token, _ in merges:
        a, b = pair.split(" ")
        sym = F.replace(
            F.trim(F.replace(
                F.concat(F.lit(" "),
                         F.replace(sym, F.lit(" "), F.lit("  ")),
                         F.lit(" ")),
                F.lit(f" {a}  {b} "), F.lit(f" {token} "))),
            F.lit("  "), F.lit(" "))
    return F.size(F.split(sym, " "))
