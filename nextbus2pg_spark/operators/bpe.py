"""Byte-pair-encoding tokenizer training + encoding — the
tokenizer-training precursor of an LLM data pipeline (the step
``build_vocab`` feeds; reference has no analogue — pure extension
surface).

Scale design (the classic Sennrich formulation, arranged Spark-first):

- ONE corpus pass builds the word-frequency table; every BPE
  iteration after that runs on the VOCABULARY (bounded by language,
  ~1e5-1e6 rows), never the corpus. At 100 TB this is the whole
  game: 50 merge iterations cost 50 tiny jobs over a small table, not
  50 corpus scans.
- Pair counting is a partial-aggregatable hash aggregate over the
  exploded (symbol, next-symbol) pairs weighted by word frequency;
  the winning pair is a 1-row driver collect (scalar).
- Applying a merge is a pure JVM array fold (greedy left-to-right
  non-overlapping, the standard semantics): no Python in the
  training loop. ``scale.iterate`` cuts the symbol table's lineage
  every iteration, so it doesn't grow linearly in n_merges.
- ``bpe_encode`` IS the documented Python path (Arrow/mapInPandas):
  applying n merge rules sequentially as nested column expressions
  would build an O(n_merges)-deep plan, so encoding ships the (tiny)
  merge list into a vectorized closure instead — the same
  "UDFs-are-the-slow-path-but-bounded" tradeoff as
  ``dedup.word_shingles``.

Determinism: ties in pair frequency break lexicographically, so the
merge table — and therefore every encoding — is identical across
runs, partitionings, and retries (pinned by the property test against
a pure-Python reference implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.scale import iterate

#: end-of-word sentinel (standard BPE: lets the model distinguish
#: word-final subwords; chosen outside the printable fixture alphabet)
EOW = "▁"


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _apply_merge(symbols, a: str, b: str):
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into ``a+b`` — a single JVM array fold. A freshly merged token
    never re-merges in the same pass because ``a+b != a`` for any
    non-empty b (fold compares the accumulator's LAST element)."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from the corpus; returns the
    ordered merge list [(left, right), ...] (order IS the tokenizer —
    encoding applies rules in training order). Stops early when no
    pair reaches ``min_pair_freq``. Words are whitespace tokens with
    an end-of-word sentinel appended (standard subword BPE)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1: {n_merges}")
    syms = _word_freqs(df, text_col).select(
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ).alias("symbols"),
    ).localCheckpoint(eager=True)

    def merge_best(state):
        syms, merges = state
        pairs = syms.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                    F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_freq:
            return None, merges  # no pair qualifies: training is done
        a, b = best[0]["p"]["a"], best[0]["p"]["b"]
        merged = syms.select(
            "freq", _apply_merge(F.col("symbols"), a, b).alias("symbols")
        )
        return merged, [*merges, (a, b)]

    (_, merges), _ = iterate(
        (syms, []), merge_best, n_merges,
        name="bpe_train", stop=lambda state: state[0] is None,
    )
    return merges


def _encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference apply (also used executor-side by bpe_encode): split
    to chars + EOW, then apply each merge rule greedily left-to-right."""
    toks = list(word) + [EOW]
    for a, b in merges:
        out: list[str] = []
        for t in toks:
            if out and out[-1] == a and t == b:
                out[-1] = a + b
            else:
                out.append(t)
        toks = out
    return toks


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize every document with a trained merge list →
    (id, tokens array<string>, n_tokens). Arrow-vectorized executor
    pass; the merge list (a few hundred pairs) ships in the closure —
    no join, no shuffle, output rows = input rows."""
    import pandas as pd

    id_dt = dict(df.dtypes)[id_col]

    def enc(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            ids, toks_col, counts = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                # NULL text → zero tokens, matching bpe_train (whose
                # explode drops NULL word arrays): a corpus that
                # trains must also encode, not die in the executor.
                for w in t.split(" ") if isinstance(t, str) else ():
                    if not w:
                        continue
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = _encode_word(w, merges)
                    toks.extend(got)
                ids.append(i)
                toks_col.append(toks)
                counts.append(len(toks))
            yield pd.DataFrame(
                {"id": ids, "tokens": toks_col, "n_tokens": counts}
            )

    return df.select(id_col, text_col).mapInPandas(
        enc, f"id {id_dt}, tokens array<string>, n_tokens long"
    )
