"""``curation``: a training-data corpus through parquet-checkpointed phases.

Modelled on ``examples/training_data_pipeline.py``:

1. text stats and a quality/language gate (``ops.text``, ``filter_rows``),
   then exact dedup on the normalized-text fingerprint (keep the lowest id);
2. ``minhash_dedup_keep_best`` (``ops.dedup``, ``ops.graph``);
3. ``redact_pii``, ``remove_repeated_spans``, ``token_budget_select`` and
   ``pack_sequences`` (``ops.pii``, ``ops.cleaning``, ``ops.sampling``);
4. ``semantic_dedup`` over a 64-dimension embedding per doc
   (``ops.dedup``, ``ops.similarity``).

The generator injects, at seeded counts, exact duplicates, near
duplicates with one word changed, non-English docs, "paraphrases" (new
text whose embedding equals an existing doc's), PII strings and a shared
boilerplate passage.  Every member of a duplicate cluster shares its
base doc's embedding, and paraphrases carry the highest ids, so the
survivor set is known up to which member of a near-duplicate cluster the
quality score keeps: exactly one doc per English base doc.
"""

from __future__ import annotations

import math
import os
import random

INPUT_ROWS = 600  # documents, duplicates and injected docs included

BASE = 450
EXACT_DUPS = 30
NEAR_DUPS = 45
PARAPHRASES = 36
NON_ENGLISH = 39
WORDS = 150
DIM = 64
PII_DOCS = 30
BOILERPLATE_DOCS = 15
BIN_TOKENS = 4096
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this", "are",
)


def _word(rng: random.Random, letters: str) -> str:
    return "".join(rng.choice(letters) for _ in range(rng.randint(4, 9)))


def _english(rng, vocab) -> list[str]:
    return [
        rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
        for _ in range(WORDS)
    ]


def _unit(rng) -> list[float]:
    v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [round(x / n, 6) for x in v]


def generate(seed: int, data_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = sorted({_word(rng, "bcdfghjklmnprstvwz" + "aeiou" * 3) for _ in range(6000)})
    in_vocab = set(vocab)
    foreign = [_word(rng, "абвгдежзиклмнопрстуфхцчшыэюя") for _ in range(2000)]
    boiler = _english(rng, vocab)[:12]
    docs = []  # (doc_id, words, embedding, cluster); cluster None = must go

    for i in range(BASE):
        docs.append([i, _english(rng, vocab), _unit(rng), i])
    pii = {}
    for i in rng.sample(range(BASE), PII_DOCS):
        email = f"user{rng.randint(0, 9999)}@mail{rng.randint(0, 99)}.example.com"
        phone = f"415-555-{rng.randint(0, 9999):04d}"
        words = docs[i][1]
        words[rng.randrange(WORDS)] = email
        words[rng.randrange(WORDS)] = phone
        pii[i] = (email, phone)
    for i in rng.sample(range(BASE), BOILERPLATE_DOCS):
        at = rng.randrange(WORDS - len(boiler))
        docs[i][1][at : at + len(boiler)] = boiler
    next_id = BASE
    for i in rng.sample(range(BASE), EXACT_DUPS):
        docs.append([next_id, list(docs[i][1]), docs[i][2], i])
        next_id += 1
    for i in rng.sample(range(BASE), NEAR_DUPS):
        words = list(docs[i][1])
        pos = rng.choice([p for p, w in enumerate(words) if w in in_vocab])
        words[pos] = rng.choice([w for w in vocab[:50] if w != words[pos]])
        docs.append([next_id, words, docs[i][2], i])
        next_id += 1
    for _ in range(NON_ENGLISH):
        words = [rng.choice(foreign) for _ in range(WORDS)]
        docs.append([next_id, words, _unit(rng), None])
        next_id += 1
    for i in rng.sample(range(BASE), PARAPHRASES):
        docs.append([next_id, _english(rng, vocab), docs[i][2], None])
        next_id += 1
    assert len(docs) == INPUT_ROWS
    rng.shuffle(docs)  # ingest order is not id order

    path = os.path.join(data_dir, "curation.parquet")
    table = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [" ".join(d[1]) for d in docs],
            "embedding": pa.array([d[2] for d in docs], pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, path, row_group_size=INPUT_ROWS // 8)
    return {
        "source": path,
        "rows": INPUT_ROWS,
        "truth": {
            "cluster": {d[0]: d[3] for d in docs},
            "tokens": {d[0]: len(d[1]) for d in docs},
            "paraphrases": {d[0] for d in docs if d[0] >= next_id - PARAPHRASES},
            "pii": [s for pair in pii.values() for s in pair],
            "boilerplate": " ".join(boiler),
        },
    }


def _pipeline(spark, work_dir: str):
    from pyspark.sql import functions as F

    from phaser_spark import Phase, Pipeline, dataframe_step
    from phaser_spark import builtin_steps as B
    from phaser_spark.ops import cleaning, dedup, pii, sampling, text

    @dataframe_step
    def add_stats(df):
        c = F.col("text")
        return df.select(
            "*",
            text.token_count(c).alias("n_tokens"),
            text.stopword_ratio(c).alias("stopword_ratio"),
            text.lang_id(c).alias("lang"),
            text.quality_score(c).alias("quality"),
        )

    @dataframe_step
    def drop_exact_dups(df):
        fp = text.fingerprint(F.col("text"))
        keepers = df.groupBy(fp.alias("__fp__")).agg(F.min("doc_id").alias("__keep__"))
        return (
            df.withColumn("__fp__", fp)
            .join(keepers, "__fp__")
            .filter(F.col("doc_id") == F.col("__keep__"))
            .drop("__fp__", "__keep__")
        )

    @dataframe_step
    def drop_near_dups(df):
        return dedup.minhash_dedup_keep_best(
            df, "doc_id", "text", score_col="quality", threshold=0.85,
            num_perm=64, num_bands=16,
        )

    @dataframe_step
    def curate_and_pack(df):
        out = pii.redact_pii(df, "text", out_col="text_clean", with_counts=False)
        out = cleaning.remove_repeated_spans(
            out, "doc_id", "text_clean", n=8, min_doc_freq=2
        )
        # a budget above the corpus: the selection runs, every doc is kept
        out = sampling.token_budget_select(
            out, "doc_id", "n_tokens", "lang", budgets=10**12, buckets=64
        )
        return sampling.pack_sequences(
            out, "n_tokens", BIN_TOKENS, order_col="doc_id", partition_col="lang"
        )

    @dataframe_step
    def drop_semantic_dups(df):
        return dedup.semantic_dedup(df, "doc_id", "embedding", n_cells=16, threshold=0.95)

    gate = (F.col("n_tokens") >= 5) & (F.col("quality") >= 0.35) & (F.col("lang") == "en")
    phases = [
        Phase(
            name="c1_quality",
            steps=[add_stats, B.filter_rows(gate, name="quality_gate"), drop_exact_dups],
        ),
        Phase(name="c2_near", steps=[drop_near_dups]),
        Phase(name="c3_curate", steps=[curate_and_pack]),
        Phase(name="c4_semantic", steps=[drop_semantic_dups]),
    ]
    pipe = Pipeline(working_dir=work_dir, phases=phases, name="curation", spark=spark)
    pipe.save_format = "parquet"
    return pipe


def run_pass(spark, inputs: dict, work_dir: str) -> dict:
    pipe = _pipeline(spark, work_dir)
    pipe.run(inputs["source"])
    return {"pipe": pipe}


def check(spark, inputs: dict, result: dict) -> list[str]:
    truth, pipe = inputs["truth"], result["pipe"]
    problems = []
    rows = (
        spark.read.parquet(pipe.checkpoints["c4_semantic"])
        .select("doc_id", "text_clean", "bin_id")
        .collect()
    )
    ids = [r["doc_id"] for r in rows]
    clusters = [truth["cluster"][i] for i in ids]
    if None in clusters or len(set(clusters)) != len(ids) or len(ids) != BASE:
        problems.append(
            f"{len(ids)} survivors from {len(set(clusters))} clusters "
            f"({clusters.count(None)} should have gone); expected one per "
            f"each of {BASE} base docs"
        )
    leaked = [s for r in rows for s in truth["pii"] if s in r["text_clean"]]
    if leaked:
        problems.append(f"{len(leaked)} injected PII strings survive, e.g. {leaked[0]}")
    if any(truth["boilerplate"] in r["text_clean"] for r in rows):
        problems.append("the repeated boilerplate passage survives")
    # bins were packed in phase 3, before the paraphrases left
    packed = sorted(set(ids) | truth["paraphrases"])
    start, want = 0, {}
    for i in packed:
        want[i] = start // BIN_TOKENS
        start += truth["tokens"][i]
    wrong = sum(1 for r in rows if r["bin_id"] != want[r["doc_id"]])
    if wrong:
        problems.append(f"{wrong} docs in the wrong sequence bin")
    return problems
