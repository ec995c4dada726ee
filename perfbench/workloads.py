"""The benchmark's workloads. Each drives the engine only through its
public functions, from one closed-loop client (the next call is issued
when the previous one has returned), and checks every answer.

A workload has four parts, run in this order by run.py:

- ``inputs(ctx)`` generates its files and values from the seed, before
  the session starts (not part of ``setup_s``);
- ``setup(ctx, inputs)`` does the engine work that comes before the
  timed calls: the warm-up, and for ``rag_query`` the warehouse;
- ``measure(ctx, state)`` makes the timed calls and checks them;
- ``extra(ctx, state)``, if any, runs in the traced run only, after the
  forced stages: layers no timed workload uses, measured on small
  inputs.

- ``rag_ingest``: setup imports one book into a fresh warehouse (the
  cold first import, which is the warm-up); the timed call is one
  ``cli.import_doc`` of new books plus the book already imported.
- ``rag_query``: setup commits a seeded warehouse through
  ``cli.save_state``; the timed calls are ``cli.search_doc_chunks`` and
  ``cli.generate_text``. Its traced run also measures the dedup and ANN
  index layers (``dedup_extra``, ``ann_extra``).
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np

import gen
import oracle
import stats

# rag_ingest: a book is 16 chapters x 24 paragraphs x 64 Zipf words
# (24,576 words, 96 chunks of 256 words)
INGEST_BOOK = {"chapters": 16, "paras": 24, "para_words": 64}
TIMED_BOOKS = 4  # new books of the timed import; it also re-imports the setup book

# rag_query: 16 books x 25 chunks of 256 Zipf words
QUERY_SOURCES, QUERY_CHUNKS_PER_SOURCE, QUERY_CHUNK_WORDS = 16, 25, 256
QUESTIONS_PER_SECOND = 0.6  # questions asked per --seconds (a search and a generate each)
QUERY_PROMPTS = 16  # prompts of each kind
QUERY_WARMUP = 2  # questions of each kind asked in setup (the last prompts)
SEARCH_LIMIT, SEARCH_THRESHOLD = 10, 0.7
EMBED_CHECKS = 16  # stored chunk embeddings compared with the oracle's

# dedup layer (traced rag_query run)
DEDUP_DOCS, DEDUP_EXACT, DEDUP_NEAR, DEDUP_WORDS = 400, 40, 40, 64
DEDUP_RECALL_FLOOR = 0.9
SEM_VECS, SEM_COPIES, SEM_CLUSTERS, SEM_TAU = 400, 40, 8, 0.9

# ANN layers (traced rag_query run)
ANN_CLUSTERS = 16
ANN_BASE = 400
ANN_EPOCHS = 2
ANN_PER_EPOCH = 60
ANN_PROBES = 3
ANN_K = 10
ANN_RECALL_FLOOR = 0.3  # mean recall@10 below this fails the run


class Context:
    """State one run shares with its workload: the session (set once it
    has started), a private work directory, the measuring time and the
    attempted/failed counts."""

    def __init__(self, work: str, seed: int, seconds: int, tracer=None):
        self.work, self.seed, self.seconds, self.tracer = work, seed, seconds, tracer
        self.spark = None
        self.cpu_clock = None  # () -> CPU seconds used so far by the engine's processes
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict = {}  # workload-specific figures, printed by run.py

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def record(self, failure: str | None) -> None:
        self.attempted += 1
        if failure:
            self.failures.append(failure)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, fn, *args):
        """(result, wall seconds, CPU seconds) of one call."""
        c, t = self.cpu_clock(), time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t, self.cpu_clock() - c


# --- rag_ingest ----------------------------------------------------------------


def rag_ingest_inputs(ctx: Context) -> dict:
    first, *new = gen.write_books(
        ctx.path("books"), gen.ZipfText(ctx.seed), ctx.seed, 0, 1 + TIMED_BOOKS, **INGEST_BOOK
    )
    return {"first": [first], "timed": new + [first]}


def rag_ingest_setup(ctx: Context, inp: dict) -> dict:
    """The first import into a fresh warehouse: the cold engine paths
    run here, so the timed import is a warm one (the JIT still compiles
    during it; see NOTES.md)."""
    from demo_pgvector_spark import cli

    wh = ctx.path("warehouse")
    cli.import_doc(ctx.spark, wh, inp["first"])
    return {"warehouse": wh, "timed": inp["timed"]}


def rag_ingest_measure(ctx: Context, st: dict) -> dict:
    """One import of new books plus the book already imported. The
    re-imported book adds no source (the idempotent upsert path) but
    its chunks again: chunks are appended with fresh ids, as the
    reference's chunk insert does."""
    from demo_pgvector_spark import cli

    wh = st["warehouse"]
    ctx.record(oracle.check_import(wh, 1))
    per_book = oracle.read_table(os.path.join(wh, "chunks")).num_rows
    with ctx.span("cli.import_doc"):
        _, wall, cpu = ctx.timed(cli.import_doc, ctx.spark, wh, st["timed"])
    ctx.record(oracle.check_import(wh, 1 + TIMED_BOOKS))
    added = oracle.read_table(os.path.join(wh, "chunks")).num_rows - per_book
    want = per_book * len(st["timed"])
    ctx.record(None if added == want else f"import: {added} chunks added, expected {want}")
    ctx.detail.update(
        books=len(st["timed"]), book_chunks=per_book, chunks=added,
        import_s=wall, import_cpu_s=cpu,
    )
    return {"ops": [(wall, cpu)], "items": added}


def dedup_extra(ctx: Context, st: dict) -> None:
    """The dedup operators on small seeded inputs with planted
    duplicates: exact_dedup, minhash_pairs and dedup_assign over a
    document corpus, semdedup over clustered vectors."""
    from demo_pgvector_spark.operators import dedup

    spark = ctx.spark
    rows, planted = gen.dup_corpus(
        gen.ZipfText(ctx.seed), ctx.seed, DEDUP_DOCS, DEDUP_EXACT, DEDUP_NEAR, DEDUP_WORDS
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with ctx.span("dedup.exact_dedup"):
        kept = dedup.exact_dedup(docs).select("keeper_id", "dup_count").collect()
    ctx.record(oracle.check_exact_dedup([tuple(r) for r in kept], rows))
    with ctx.span("dedup.minhash_pairs"):
        found = dedup.minhash_pairs(docs).select("id_a", "id_b", "jaccard").collect()
    pairs = [tuple(r) for r in found]
    bad, recall, precision = oracle.check_pairs(pairs, rows, planted)
    ctx.record(bad)
    ctx.record(oracle.check_recall(recall, DEDUP_RECALL_FLOOR, "minhash_pairs"))
    pair_df = spark.createDataFrame([(a, b) for a, b, _ in pairs], "id_a long, id_b long")
    with ctx.span("dedup.dedup_assign"):
        assigned = dedup.dedup_assign(docs, pair_df).select("id", "keeper_id", "is_keeper").collect()
    ctx.record(
        oracle.check_assign([tuple(r) for r in assigned], [i for i, _ in rows], [p[:2] for p in pairs])
    )

    ids, vecs, centers, _ = gen.near_dup_vectors(ctx.seed, SEM_VECS, SEM_CLUSTERS, SEM_COPIES)
    vec_df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)], VEC_SCHEMA
    )
    with ctx.span("dedup.semdedup"):
        labelled = (
            dedup.semdedup(vec_df, centers.tolist(), SEM_TAU)
            .select("vec_id", "cluster", "component", "keeper_id", "is_keeper")
            .collect()
        )
    ctx.record(oracle.check_semdedup([tuple(r) for r in labelled], ids, vecs, centers, SEM_TAU))
    ctx.detail.update(
        dedup_pairs=len(pairs), dedup_pair_recall=recall, dedup_pair_precision=precision
    )


# --- rag_query -------------------------------------------------------------------


def rag_query_inputs(ctx: Context) -> dict:
    """Warehouse rows with their chunk embeddings, and the prompts with
    theirs: known-item prompts (the text of a stored chunk) alternate
    with free-text ones. Embeddings come from the oracle, so the
    engine's embedding UDF stays out of this workload."""
    text = gen.ZipfText(ctx.seed)
    sources, chunks = gen.chunk_rows(
        text, ctx.seed, QUERY_SOURCES, QUERY_CHUNKS_PER_SOURCE, QUERY_CHUNK_WORDS
    )
    rng = np.random.RandomState([ctx.seed, 3])
    known = [chunks[i][3] for i in rng.choice(len(chunks), QUERY_PROMPTS, replace=False)]
    free = gen.free_text_queries(text, ctx.seed, QUERY_PROMPTS)
    embed = oracle.Embedder()
    queries = [(q, embed(q)) for pair in zip(known, free) for q in pair]
    vectors = [embed(body).astype(np.float32).tolist() for _, _, _, body in chunks]
    return {"sources": sources, "chunks": chunks, "vectors": vectors, "queries": queries}


def rag_query_setup(ctx: Context, inp: dict) -> dict:
    """Commit the warehouse through ``cli.save_state`` (the engine lays
    the tables out), then warm the read path
    with QUERY_WARMUP questions of each kind: the first questions of a
    session cost up to 1.5 times a later one while the JIT compiles."""
    from demo_pgvector_spark import cli
    from demo_pgvector_spark import tables as t
    from demo_pgvector_spark.functions import embedding

    spark, wh, model = ctx.spark, ctx.path("warehouse"), cli.DEFAULT_MODEL
    meta = {s[0]: s for s in inp["sources"]}
    data = [
        (
            cid, cid,
            {
                "author": meta[sid][1],
                "title": meta[sid][2],
                "publication_date": f"{meta[sid][4]}-01-01",
                "chunk_tokenizer_model": model,
                "chunk_size": str(QUERY_CHUNK_WORDS),
                "chunk_number": str(n),
                "import_date": "2024-01-01",
            },
            body,
        )
        for cid, sid, n, body in inp["chunks"]
    ]
    chunks = [(cid, sid, 1, v) for (cid, sid, _, _), v in zip(inp["chunks"], inp["vectors"])]
    state = {
        "models": spark.createDataFrame([(1, model, embedding.DEFAULT_DIM)], t.MODELS_SCHEMA),
        "sources": spark.createDataFrame(
            [(s, a, ti, 1, None, g, None, y, 1) for s, a, ti, g, y in inp["sources"]],
            t.SOURCES_SCHEMA,
        ),
        "chunks": spark.createDataFrame(chunks, t.SOURCE_CHUNKS_SCHEMA),
        "chunk_data": spark.createDataFrame(data, t.SOURCE_CHUNK_DATA_SCHEMA),
    }
    cli.save_state(state, wh)
    for q, _ in inp["queries"][-2 * QUERY_WARMUP :]:
        cli.search_doc_chunks(spark, wh, q, limit=SEARCH_LIMIT, threshold=SEARCH_THRESHOLD).collect()
        cli.generate_text(spark, wh, q)
    return {"warehouse": wh, "queries": inp["queries"][: -2 * QUERY_WARMUP]}


def rag_query_measure(ctx: Context, st: dict) -> dict:
    """One question at a time: search the prompt, then generate the RAG
    prompt for it, as a user who looks before asking. The number of
    questions follows from ``--seconds`` alone, not from how fast they
    run, so every run does the same work."""
    from demo_pgvector_spark import cli

    spark, wh = ctx.spark, st["warehouse"]
    corpus = oracle.Corpus(wh)
    ctx.record(oracle.check_import(wh, QUERY_SOURCES))
    embed = oracle.Embedder()
    for r in range(0, len(corpus.ids), len(corpus.ids) // EMBED_CHECKS):
        i = int(corpus.ids[r])
        ok = np.allclose(corpus.emb[r], embed(corpus.text[i]), atol=1e-6)
        ctx.record(None if ok else f"save_state: stored embedding of chunk {i} differs")
    n = min(max(round(QUESTIONS_PER_SECOND * ctx.seconds), 1), len(st["queries"]))
    ops, search_ms, generate_ms, recalls = [], [], [], []
    for q, qvec in st["queries"][:n]:
        with ctx.span("cli.search_doc_chunks"):
            rows, s_wall, s_cpu = ctx.timed(
                lambda: cli.search_doc_chunks(
                    spark, wh, q, limit=SEARCH_LIMIT, threshold=SEARCH_THRESHOLD
                )
                .select("chunk_id", "similarity_score", "chunk_text")
                .collect()
            )
        ctx.record(oracle.check_search(rows, corpus, qvec, SEARCH_LIMIT, SEARCH_THRESHOLD))
        want = [i for i, _ in corpus.topk(qvec, SEARCH_LIMIT, SEARCH_THRESHOLD)]
        if want:
            recalls.append(oracle.recall([r[0] for r in rows], want))
        with ctx.span("cli.generate_text"):
            prompt, g_wall, g_cpu = ctx.timed(cli.generate_text, spark, wh, q)
        ctx.record(oracle.check_prompt(prompt, q, corpus, qvec))
        search_ms.append(s_wall * 1e3)
        generate_ms.append(g_wall * 1e3)
        ops.append((s_wall + g_wall, s_cpu + g_cpu))
    ctx.detail.update(
        chunks=len(corpus.ids),
        search_ms=stats.summary(search_ms),
        generate_ms=stats.summary(generate_ms),
        search_recall_at_10=float(np.mean(recalls)),
    )
    return {"ops": ops, "items": len(ops)}


# --- ANN index layers -------------------------------------------------------------


VEC_SCHEMA = "vec_id long, embedding array<double>"


def _check_index(adj_path: str, root: str, ids: np.ndarray) -> str | None:
    """Read back with pyarrow: every base vector has 1 to m = 6 out-links
    in the built adjacency, and every streamed vector has links in the
    appended half."""
    import pyarrow.parquet as pq

    src, counts = np.unique(pq.read_table(adj_path).column("src").to_numpy(), return_counts=True)
    if len(src) != ANN_BASE or counts.max() > 6:
        return f"smallworld_build: {len(src)} of {ANN_BASE} nodes linked, max degree {counts.max()}"
    appended = set(oracle.read_table(os.path.join(root, "adj")).column("src").to_pylist())
    missing = set(ids[ANN_BASE:].tolist()) - appended
    if missing:
        return f"run_hnsw_stream: {len(missing)} streamed vectors without links"
    return None


def ann_extra(ctx: Context, st: dict) -> None:
    """``ann.smallworld_build`` over base vectors,
    ``streaming.ann.run_hnsw_stream`` over one landing file per epoch,
    ``ann.smallworld_topk`` probes of the merged adjacency and one exact
    ``similarity.knn_join`` of the same probes."""
    from demo_pgvector_spark.operators import ann, similarity
    from demo_pgvector_spark.streaming import ann as stream_ann

    spark = ctx.spark
    ids, vecs, centers = gen.clustered_vectors(
        ctx.seed, ANN_BASE + ANN_PER_EPOCH * ANN_EPOCHS, ANN_CLUSTERS
    )
    gen.write_landing(ctx.path("ann", "base"), ids[:ANN_BASE], vecs[:ANN_BASE], 1)
    landing = ctx.path("ann", "landing")
    gen.write_landing(landing, ids[ANN_BASE:], vecs[ANN_BASE:], ANN_EPOCHS)
    rng = np.random.RandomState([ctx.seed, 5])
    probes = centers[rng.randint(0, ANN_CLUSTERS, ANN_PROBES)]
    probes = probes + 0.15 * rng.normal(0, 1, probes.shape)
    probes /= np.linalg.norm(probes, axis=1, keepdims=True)
    planes = ann.hyperplanes(vecs.shape[1])

    base = spark.read.schema(VEC_SCHEMA).parquet(ctx.path("ann", "base"))
    adj_path = ctx.path("ann", "adj_base")
    with ctx.span("ann.smallworld_build"):
        t = time.perf_counter()
        ann.smallworld_build(base, planes).write.parquet(adj_path)
        build_s = time.perf_counter() - t
    stream = spark.readStream.schema(VEC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(landing)
    root = ctx.path("ann", "index")
    with ctx.span("streaming.ann.run_hnsw_stream"):
        t = time.perf_counter()
        stream_ann.run_hnsw_stream(stream, root, base, planes, ctx.path("ann", "ckpt"))
        stream_s = time.perf_counter() - t
    ctx.record(_check_index(adj_path, root, ids))

    adj = spark.read.parquet(adj_path).unionByName(stream_ann.read_adjacency(spark, root))
    emb = base.unionByName(spark.read.schema(VEC_SCHEMA).parquet(landing))
    exact = oracle.exact_topk(vecs, ids, probes, ANN_K)
    recalls = []
    for p, qvec in enumerate(probes):
        with ctx.span("ann.smallworld_topk"):
            rows = ann.smallworld_topk(emb, qvec.tolist(), k=ANN_K, adj=adj, planes=planes).collect()
        recalls.append(oracle.recall([int(r["vec_id"]) for r in rows], [i for i, _ in exact[p]]))
        ctx.record(None if len(rows) == ANN_K else f"smallworld_topk: {len(rows)} rows")
    recall = float(np.mean(recalls))
    ctx.record(oracle.check_recall(recall, ANN_RECALL_FLOOR, "smallworld_topk"))

    probe_df = spark.createDataFrame(
        [(p, probes[p].tolist()) for p in range(ANN_PROBES)], "probe_id long, probe_vec array<double>"
    )
    with ctx.span("similarity.knn_join"):
        rows = similarity.knn_join(probe_df, emb, k=ANN_K).orderBy("probe_id", "rank").collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["probe_id"]), []).append((int(r["vec_id"]), float(r["similarity_score"])))
    ctx.record(oracle.check_knn(got, vecs, ids, probes, ANN_K))
    ctx.detail.update(
        index_build_vecs_per_s=ANN_BASE / build_s,
        index_append_vecs_per_s=ANN_EPOCHS * ANN_PER_EPOCH / stream_s,
        ann_recall_at_10=recall,
    )


def traced_extra(ctx: Context, st: dict) -> None:
    dedup_extra(ctx, st)
    ann_extra(ctx, st)


# name -> (inputs, setup, measure, extra step of the traced run or None)
WORKLOADS = {
    "rag_ingest": (rag_ingest_inputs, rag_ingest_setup, rag_ingest_measure, None),
    "rag_query": (rag_query_inputs, rag_query_setup, rag_query_measure, traced_extra),
}
