"""The ``functions`` layer, measured in every traced run.

Registered corpus queries (``queries.QUERIES``), grouped by the
``raptor_spark.functions`` module they exercise, run over a seeded
synthetic corpus in the shape of the query catalog's ``documents`` and
``embeddings`` tables. Each query's result is checked against its DuckDB
oracle (``queries.ORACLE_SQL``) under the exact gate of
``tools/check_oracles.compare``. The exact all-pairs ``ngram_jaccard``
baseline is timed on its own, so its cost stays visible.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 600
N_VECS = 400
DIM = 64
N_SOURCES = 20
DUP_SHARE = 0.05  # documents that copy an earlier one plus a marker word
VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# module -> registered queries that exercise it
MODULE_QUERIES = {
    "dedup": ["dedup_exact", "dup_clusters"],
    "similarity": ["knn_cosine", "ann_ivf"],
    "text": ["text_stats", "unigram_logprob"],
    "retrieval": ["bm25_search"],
    "sketches": ["cms_heavy_hitters"],
    "sampling": ["split_assign"],
    "packing": ["pack_sequences"],
    "embeddings": ["embedding_quantize"],
    "multimodal": ["media_features"],
    "classifier": ["quality_classifier"],
    "profile": ["profile_docs"],
}


def stage_corpus(d: str, seed: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under ``d``."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[rng.integers(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(8, 81))))
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = rng.standard_normal((10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centroids[labels] + 0.5 * rng.standard_normal((N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(d, exist_ok=True)
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))


def measure(ctx) -> dict:
    """Build, run and check every query of ``MODULE_QUERIES`` under
    traced spans; returns the ``functions.*`` per-layer metrics."""
    import duckdb
    from check_oracles import compare
    from raptor_spark.queries import ORACLE_SQL, QUERIES

    d = os.path.join(ctx.work, "corpus")
    if not os.path.isdir(d):
        stage_corpus(d, ctx.seed)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    tracer, probe = ctx.tracer, ctx.probe

    def run(name: str, span: str):
        with tracer.span(f"{span}.build") as build:
            df = QUERIES[name](ctx.spark, d)
        with tracer.span(f"{span}.exec") as ex:
            got = df.toPandas()
        problems = compare(name, got, con.sql(ORACLE_SQL[name]).df(), exact=True)
        ctx.tally.record(f"functions {name}", not problems, "; ".join(problems))
        stages = probe.stages(probe.jobs([build.group]))
        return build.end - build.start, len(stages), ex.end - ex.start

    layers = {}
    for m, names in MODULE_QUERIES.items():
        build_s, stages, exec_s = map(sum, zip(*(
            run(name, f"functions.{m}") for name in names
        )))
        layers[f"functions.{m}.build_s"] = build_s
        layers[f"functions.{m}.build_stages"] = float(stages)
        layers[f"functions.{m}.exec_s"] = exec_s
    build_s, _, exec_s = run("ngram_jaccard", "functions.dedup.ngram_jaccard")
    layers["functions.dedup.ngram_jaccard_s"] = build_s + exec_s
    return layers
