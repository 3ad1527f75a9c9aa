"""Seeded inputs: Zipf corpora (Spark SQL, no UDF) and query streams.

Everything the engine sees is made here from the run's seed: the
documents table and the query dicts.  Word slot ``i`` of doc ``d``
draws the term rank ``floor(V ** u)`` with ``u`` uniform from
``xxhash64(d * 64 + i, seed)``, so P(rank <= r) = ln r / ln V, i.e.
p(r) ∝ 1/r (Zipf, s = 1) — the generator bench_pruned.py uses, with
the seed mixed into the hash.  The first ``HOT_DOCS`` docs carry a
concentrated high-tf term, the skew block-max pruning exists for.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 200_000
WORDS_PER_DOC = 24
HOT_TERM = "hotterm"
HOT_TF = 100
HOT_DOCS = 2048


def zipf_docs(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """(doc_id, text, lang, source, n_chars): the incremental build's
    document schema, so the same table feeds every build path."""
    rank = ("CAST(pow({v}, (abs(xxhash64(doc_id * 64 + i, {s})) % 1048576)"
            " / 1048576.0) AS LONG)").format(v=VOCAB, s=int(seed))
    text = F.expr(f"concat_ws(' ', transform(sequence(1, {WORDS_PER_DOC}),"
                  f" i -> concat('z', {rank})))")
    hot = " " + " ".join([HOT_TERM] * HOT_TF)
    return (
        spark.range(n_docs).withColumnRenamed("id", "doc_id")
        .withColumn("text", text)
        .withColumn("text", F.when(F.col("doc_id") < HOT_DOCS,
                                   F.concat(F.col("text"), F.lit(hot)))
                    .otherwise(F.col("text")))
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("perfbench"))
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def write_docs(spark: SparkSession, n_docs: int, seed: int, path: str,
               n_files: int) -> DataFrame:
    """Materialize the corpus as ``n_files`` parquet files split by
    doc_id range (one landing file per incremental drain) and return
    the table read back from them."""
    (zipf_docs(spark, n_docs, seed)
     .repartitionByRange(n_files, "doc_id")
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def _head(rng: random.Random) -> str:
    return f"z{rng.randint(1, 20)}"


def _mid(rng: random.Random) -> str:
    # Zipf over ranks 50..5000, same 1/r law as the corpus
    return f"z{int(50 * (100 ** rng.random()))}"


def _tail(rng: random.Random) -> str:
    return f"z{rng.randint(5_000, VOCAB)}"


def hot_query(rng: random.Random) -> str:
    """The concentrated hot term with a Zipf head and a mid term: the
    shape block-max pruning exists for."""
    return f"{HOT_TERM} {_head(rng)} {_mid(rng)}"


def zipf_query(rng: random.Random) -> str:
    """Head, mid and tail terms of the corpus's own Zipf law with
    uniform tf: nothing prunes."""
    return f"z{rng.randint(1, 5)} {_mid(rng)} {_tail(rng)}"


def batch(rng: random.Random, kind: str, n: int) -> dict[str, str]:
    make = hot_query if kind == "hot" else zipf_query
    return {f"{kind}{i:04d}": make(rng) for i in range(n)}


def interactive_pool(rng: random.Random, n: int) -> list[tuple[str, bool]]:
    """(query, conjunctive) pool, 3 OR : 1 AND.  The OR queries
    alternate the hot and zipf shapes.  Half of the AND queries pair two
    head terms, which always match; the other half add a tail term to
    the hot shape, which almost never matches, so the empty-answer path
    is asked at a fixed share."""
    pool = []
    for i in range(n):
        if i % 8 == 3:
            a, b = rng.sample(range(1, 21), 2)
            pool.append((f"z{a} z{b}", True))
        elif i % 8 == 7:
            pool.append((f"{HOT_TERM} {_head(rng)} {_tail(rng)}", True))
        else:
            pool.append((hot_query(rng) if i % 2 else zipf_query(rng), False))
    return pool


def schedule(n_pool: int, n: int) -> list[int]:
    """Pool positions asked in one round: each position i as often as
    its share p(i) ∝ 1/(i+1) of ``n`` asks, rounded by largest
    remainder.  The same in every round and every run, so rounds
    differ only in the pool's terms, never in how often each kind of
    position (OR, matching AND, empty AND) is asked."""
    w = [1.0 / (i + 1) for i in range(n_pool)]
    share = [n * x / sum(w) for x in w]
    counts = [int(x) for x in share]
    by_remainder = sorted(range(n_pool), key=lambda i: counts[i] - share[i])
    for i in by_remainder[:n - sum(counts)]:
        counts[i] += 1
    return [i for i, c in enumerate(counts) for _ in range(c)]
