"""Measure the k4_bpe_token_count literal-map tokenizer at its cap.

The driver-trained BPE path tokenizes via a `F.create_map` LITERAL
consumed per corpus word. Two known costs grow with vocabulary size:
plan construction (2N py4j literal expressions, janino codegen) and
`GetMapValue` on a literal `ArrayBasedMapData`, which is a LINEAR
scan per lookup — O(vocab) work per corpus token. The fixture vocab
is 31 words, so the green driver number proves nothing about the
boundary. This script times BOTH arms (literal map + aggregate vs
broadcast-join on the exploded word stream) on a synthetic corpus at
several vocabulary sizes and prints one JSON line per (arm, size);
the measured knee sets BPE_TOKENIZE_MAP_MAX in operators/text.py.

Usage: python scripts/bpe_map_boundary.py [sizes...]
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from lakehouse_homeserver_spark.operators.common import pin, unpin  # noqa: E402

N_DOCS = 2_000
WORDS_PER_DOC = 200


def build(spark, n_vocab: int):
    rng = random.Random(42)
    vocab = [f"w{i:06d}" for i in range(n_vocab)]
    toks = [rng.randrange(2, 9) for _ in range(n_vocab)]
    docs = [
        (
            i,
            " ".join(rng.choice(vocab) for _ in range(WORDS_PER_DOC)),
        )
        for i in range(N_DOCS)
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string").repartition(
        16
    )
    return pin(d), vocab, toks


def run_map_literal(spark, d, vocab, toks) -> tuple:
    t0 = time.time()
    tok_map = F.create_map(
        *[x for w, n in zip(vocab, toks) for x in (F.lit(w), F.lit(n))]
    )
    words = F.split(F.col("text"), " ")
    out = d.select(
        F.aggregate(
            words,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + tok_map[w].cast("bigint"),
        ).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    return time.time() - t0, out


def run_broadcast_join(spark, d, vocab, toks) -> tuple:
    t0 = time.time()
    v = spark.createDataFrame(
        list(zip(vocab, toks)), "word string, n_toks int"
    )
    out = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .join(F.broadcast(v), "word")
        .agg(F.sum("n_toks")).collect()[0][0]
    )
    return time.time() - t0, out


def main() -> None:
    # 50k is deliberately NOT a default: the map-literal arm there
    # builds a 100k-expression plan and extrapolates to minutes
    # (BASELINE.md's table stops at the measured 5k point). Pass it
    # explicitly to pay that cost on purpose.
    sizes = [int(s) for s in sys.argv[1:]] or [100, 1_000, 5_000]
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # one throwaway to pay JVM/codegen warmup outside the readings
    warm, _, _ = build(spark, 100)
    run_broadcast_join(spark, warm, ["w000000"], [2])
    unpin(warm)
    for n in sizes:
        d, vocab, toks = build(spark, n)
        for arm, fn in (
            ("broadcast_join", run_broadcast_join),
            ("map_literal", run_map_literal),
        ):
            best, val = min(
                (fn(spark, d, vocab, toks) for _ in range(2)),
                key=lambda t: t[0],
            )
            print(
                json.dumps(
                    {
                        "arm": arm,
                        "vocab": n,
                        "sec": round(best, 2),
                        "sum": val,
                    }
                ),
                flush=True,
            )
        unpin(d)


if __name__ == "__main__":
    main()
