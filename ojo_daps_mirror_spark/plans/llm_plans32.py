"""Thirty-second sweep (SURVEY.md §2 C91).

The full BPE trainer loop — iterative distributed pair counting with
an O(1) driver-side argmax per merge, the canonical "big aggregate,
tiny decision" iterative shape every tokenizer trainer runs.
``bpe_pair_counts`` (C49) is one round of the count stage; this runs
the actual merge loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import sql_tokens, tokens
from ..operators.lineage import cut_lineage
from ..sources import load_table, local_frame
from . import register

BPE_MERGES = 3

# Left-to-right textbook merge of pair (a, b) inside a symbol
# sequence, expressed as a FOLD into a space-joined string: append the
# next symbol unless the accumulator's last token is exactly `a` and
# the next symbol is `b`, in which case the trailing `a` is rewritten
# to `ab`. Merged symbols concatenate without a separator and source
# words are whitespace-split, so ' ' can never occur inside a symbol
# and the string round-trips losslessly through string_split.


def _sql_merge_fold(seq: str, a: str, b: str) -> str:
    tail_is_a = (
        f"(acc = {a} OR (length(acc) > length({a}) AND "
        f"substr(acc, length(acc) - length({a}), length({a}) + 1)"
        f" = ' ' || {a}))"
    )
    return (
        f"string_split(list_reduce({seq}, (acc, nxt) -> "
        f"CASE WHEN {tail_is_a} AND nxt = {b} "
        f"THEN substr(acc, 1, length(acc) - length({a})) "
        f"|| {a} || {b} "
        f"ELSE acc || ' ' || nxt END), ' ')"
    )


def _bpe_oracle() -> str:
    sql = f"""
WITH w0 AS (
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({sql_tokens('text')}) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
),
words0 AS (
  SELECT word, cnt,
         list_transform(generate_series(1, length(word)),
                        i -> substr(word, i, 1)) AS seq
  FROM w0
),
"""
    for i in range(BPE_MERGES):
        merged = _sql_merge_fold("w.seq", "t.x", "t.y")
        sql += f"""pairs{i} AS (
  SELECT w.cnt, w.seq[u.i] AS x, w.seq[u.i + 1] AS y
  FROM words{i} w, unnest(generate_series(1, len(w.seq) - 1)) AS u(i)
),
top{i} AS (
  SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM pairs{i} GROUP BY x, y
  ORDER BY SUM(cnt) DESC, x, y LIMIT 1
),
words{i + 1} AS (
  SELECT w.word, w.cnt,
         CASE WHEN len(w.seq) < 2 THEN w.seq ELSE {merged} END AS seq
  FROM words{i} w CROSS JOIN top{i} t
),
"""
    sql = sql.rstrip().rstrip(",")
    parts = [
        f"SELECT CAST({i + 1} AS INT) AS iter, x AS left_sym, y AS right_sym,"
        f" pair_count FROM top{i}"
        for i in range(BPE_MERGES)
    ]
    sql += "\n" + "\nUNION ALL\n".join(parts) + "\nORDER BY iter"
    return sql


def _spark_merge_fold(seq: Column, a: str, b: str) -> Column:
    la, lab = F.lit(a), F.lit(a + b)

    def step(acc: Column, x: Column) -> Column:
        tail_is_a = (acc == la) | (
            (F.length(acc) > F.length(la))
            & (
                F.substring(
                    acc, F.length(acc) - F.length(la), F.length(la) + F.lit(1)
                )
                == F.concat(F.lit(" "), la)
            )
        )
        return F.when(acc == "", x).otherwise(
            F.when(
                tail_is_a & (x == F.lit(b)),
                F.concat(
                    F.substring(acc, F.lit(1), F.length(acc) - F.length(la)), lab
                ),
            ).otherwise(F.concat(acc, F.lit(" "), x))
        )

    return F.split(F.aggregate(seq, F.lit(""), step), " ")


@register("bpe_merge_loop", oracle=_bpe_oracle())
def bpe_merge_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES} BPE merges on the corpus: word-frequency
    table → char symbol sequences → loop(distributed pair-count →
    1-row argmax to the driver → literal-specialised merge fold).

    The scale shape every production tokenizer trainer uses: pair
    counting is a vocabulary-grain aggregate (map-side combined; the
    corpus itself is touched ONCE to build word counts), the per-round
    driver transfer is exactly one (pair, count) row, and the merge
    rewrite is a pure map expression over the vocab frame. The vocab
    frame is localCheckpointed per round to keep the growing fold
    lineage out of later rounds' plans. The oracle replays the
    identical loop as chained CTEs with the same fold via list_reduce
    and the same (count DESC, pair ASC) tie-break.
    """
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "seq",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
        .transform(cut_lineage)
    )
    rules = []
    for it in range(1, BPE_MERGES + 1):
        # NB: Spark's sequence(1, 0) yields [1, 0] (auto-descending),
        # not [] like DuckDB's generate_series — guard 1-symbol words.
        pair_struct = F.expr(
            "CASE WHEN size(seq) < 2 THEN "
            "CAST(array() AS array<struct<x: string, y: string>>) "
            "ELSE transform(sequence(1, size(seq) - 1), "
            "i -> struct(element_at(seq, i) AS x, element_at(seq, i + 1) AS y)) END"
        )
        top = (
            words.select("cnt", F.explode(pair_struct).alias("p"))
            .groupBy("p.x", "p.y")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "x", "y")
            .limit(1)
            .collect()[0]
        )
        rules.append((it, top["x"], top["y"], int(top["pair_count"])))
        words = words.withColumn(
            "seq",
            F.when(F.size("seq") < 2, F.col("seq")).otherwise(
                _spark_merge_fold(F.col("seq"), top["x"], top["y"])
            ),
        ).transform(cut_lineage)
    return local_frame(
        spark,
        rules,
        "iter int, left_sym string, right_sym string, pair_count bigint",
    )
