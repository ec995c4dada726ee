"""Per-layer metrics of the traced run.

Layers are the engine's modules. The traced run wraps their entry
points (``targets``), forces each captured stage of the import, search
and prompt lineages alone after the measured phase (``force_stages``),
and folds spans, Spark jobs and streaming progress into the per-layer
metrics of BENCHMARK.json (``report``). Every metric is reported in
every traced run; a layer a workload does not use reads 0.
"""

from __future__ import annotations

import os
import statistics

import tracing as tr
from workloads import ANN_EPOCHS as EPOCHS  # streaming epochs, reported one by one

TABLES = ("models", "sources", "chunks", "chunk_data")
FORCE_PER_STAGE = 3  # captured frames forced per stage name

UNITS = {
    "storage.load_state_s": "s",
    **{f"storage.commit_s.{t}": "s" for t in TABLES},
    "storage.files_per_load": "count",
    "storage.bytes_written": "bytes",
    "convert.epub_s": "s",
    "convert.files_per_s": "1/s",
    "chunking.chunk_enrich_s": "s",
    "chunking.chunks_per_book": "count",
    "embedding.hash_embed_s": "s",
    "embedding.rows_per_s": "rows/s",
    "embedding.query_embed_ms": "ms",
    "write.upsert_models_s": "s",
    "write.upsert_sources_s": "s",
    "write.append_chunks_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.jobs_per_import": "count",
    "pipeline.recompute_ratio": "ratio",
    "similarity.sim_topk_ms": "ms",
    "similarity.jobs_per_search": "count",
    "rag.prompt_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
    # measured by the traced runs' extra steps
    "similarity.knn_join_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_pairs_s": "s",
    "dedup.pairs_reported": "count",
    "dedup.pair_precision": "ratio",
    "dedup.assign_s": "s",
    "dedup.assign_jobs": "count",
    "dedup.semdedup_s": "s",
    "dedup.semdedup_jobs": "count",
    "ann.smallworld_build_s": "s",
    "ann.walk_ms": "ms",
    "ann.walk_jobs_per_probe": "count",
    **{f"stream.epoch_s.{i}": "s" for i in range(EPOCHS)},
    **{f"stream.add_batch_s.{i}": "s" for i in range(EPOCHS)},
    **{f"stream.wal_commit_ms.{i}": "ms" for i in range(EPOCHS)},
    "stream.jobs_per_epoch": "count",
    "stream.epoch_growth": "ratio",
}


def targets():
    """(module, attribute, span name, capture) for every wrapped entry
    point. The attribute is patched where the caller looks it up, so
    ``pipeline.sim_topk`` (imported by name) is patched in ``pipeline``."""
    from demo_pgvector_spark import cli, pipeline
    from demo_pgvector_spark.functions import embedding
    from demo_pgvector_spark.operators import chunking, convert, rag, write
    from demo_pgvector_spark.streaming import ingest as storage

    return [
        (cli, "load_state", "storage.load_state", False),
        (storage, "commit_table", "storage.commit_table", True),
        (convert, "convert_epub_real", "convert.convert_epub_real", True),
        (pipeline, "import_documents", "pipeline.import_documents", False),
        (chunking, "chunk_enrich", "chunking.chunk_enrich", True),
        (write, "upsert_models", "write.upsert_models", True),
        (write, "upsert_sources", "write.upsert_sources", True),
        (write, "append_chunks", "write.append_chunks", True),
        (embedding, "hash_embed_py", "embedding.hash_embed_py", False),
        (pipeline, "sim_topk", "similarity.sim_topk", True),
        (rag, "aggregated_excerpts", "rag.aggregated_excerpts", True),
        (rag, "contextualized_prompt", "rag.contextualized_prompt", True),
    ]


def _measured(tracer: tr.Tracer):
    (m,) = tracer.by_name("measure")
    return m, (lambda s: m.start <= s.start and s.end <= m.end)


def force_stages(ctx, tracer: tr.Tracer) -> dict:
    """Force each captured stage of the measured phase alone (``noop``
    sink), at most FORCE_PER_STAGE per stage. A stage's self time is its
    output's forced time minus the slowest of its DataFrame inputs'.
    Also measures the committed warehouse, which the report needs and
    which is gone once the run directory is removed."""
    from pyspark.sql import DataFrame

    _, inside = _measured(tracer)
    memo: dict[int, tuple[float, int]] = {}

    def forced(label: str, df) -> tuple[float, int]:
        if id(df) not in memo:
            with tracer.span(f"force.{label}") as s:
                memo[id(df)] = (tr.force(df), s.id)
        return memo[id(df)]

    out: dict = {"self_s": {}, "force_span": {}}
    seen: dict[str, int] = {}
    enriched = None  # forced time of the first chunk_enrich output
    with tracer.span("force"):
        for s, args, res in tracer.captured:
            if not inside(s) or s.name == "storage.commit_table":
                continue
            if seen.get(s.name, 0) >= FORCE_PER_STAGE:
                continue
            seen[s.name] = seen.get(s.name, 0) + 1
            frame = res[0] if isinstance(res, tuple) else res
            t_out, sid = forced(s.name, frame)
            inputs = [forced(s.name + ".input", a)[0] for a in args if isinstance(a, DataFrame)]
            out["self_s"].setdefault(s.name, []).append(max(t_out - max(inputs, default=0.0), 0.0))
            out["force_span"].setdefault(s.name, []).append(sid)
            if s.name == "chunking.chunk_enrich" and enriched is None:
                enriched = t_out
            if s.name == "write.append_chunks" and enriched is not None:
                # its input is the chunk_enrich output with the embedding
                # UDF applied: the difference is the UDF's time
                out["self_s"].setdefault("embedding.hash_embed", []).append(
                    max(max(inputs) - enriched, 0.0)
                )

    wh = ctx.path("warehouse")
    if os.path.isdir(wh):
        files = n_bytes = 0
        for t in TABLES:
            with open(os.path.join(wh, t, "_CURRENT"), encoding="utf-8") as fh:
                vdir = os.path.join(wh, t, fh.read().strip())
            for name in os.listdir(vdir):
                if name.endswith(".parquet"):
                    files += 1
                    n_bytes += os.path.getsize(os.path.join(vdir, name))
        out["warehouse"] = {"files": files, "bytes": n_bytes}
    return out


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def report(ctx, tracer: tr.Tracer, jobs: list[tr.Job], epochs: list[dict], forced: dict) -> dict:
    """Per-layer metrics, per-span self times and engine metrics."""
    owned = tr.attribute_jobs(tracer, jobs)
    measure, inside = _measured(tracer)
    spans = [s for s in tracer.spans if inside(s)]

    def named(name):
        return [s for s in spans if s.name == name]

    def wall(s):
        return s.end - s.start

    def n_jobs(s):
        return len(tr.span_jobs(tracer, owned, s))

    def exec_s(s):
        return sum(j.executor_run_s for j in tr.span_jobs(tracer, owned, s))

    selfs = forced.get("self_s", {})
    m = dict.fromkeys(UNITS, 0.0)

    imports = named("cli.import_doc")
    if imports:
        imp = imports[0]
        below = tr.subtree(tracer, imp)
        for s, args, _ in tracer.captured:
            if s in below and s.name == "storage.commit_table":
                m[f"storage.commit_s.{os.path.basename(args[1])}"] = wall(s)
        m["pipeline.plan_s"] = sum(wall(s) for s in below if s.name == "pipeline.import_documents")
        m["pipeline.jobs_per_import"] = n_jobs(imp)
        chunk_force = forced.get("force_span", {}).get("write.append_chunks")
        if chunk_force:
            single = exec_s(tracer.spans[chunk_force[0]])
            m["pipeline.recompute_ratio"] = exec_s(imp) / single if single else 0.0
        books = ctx.detail.get("books", 0)
        m["convert.epub_s"] = _med(selfs.get("convert.convert_epub_real", []))
        m["convert.files_per_s"] = books / m["convert.epub_s"] if m["convert.epub_s"] else 0.0
        m["chunking.chunk_enrich_s"] = _med(selfs.get("chunking.chunk_enrich", []))
        m["chunking.chunks_per_book"] = ctx.detail.get("book_chunks", 0)
        m["embedding.hash_embed_s"] = _med(selfs.get("embedding.hash_embed", []))
        if m["embedding.hash_embed_s"]:
            m["embedding.rows_per_s"] = ctx.detail.get("chunks", 0) / m["embedding.hash_embed_s"]
        for stage in ("upsert_models", "upsert_sources", "append_chunks"):
            m[f"write.{stage}_s"] = _med(selfs.get(f"write.{stage}", []))
        m["storage.bytes_written"] = forced.get("warehouse", {}).get("bytes", 0)

    m["storage.files_per_load"] = forced.get("warehouse", {}).get("files", 0)
    m["storage.load_state_s"] = _med([wall(s) for s in named("storage.load_state")])
    m["embedding.query_embed_ms"] = 1e3 * _med([wall(s) for s in named("embedding.hash_embed_py")])
    m["similarity.sim_topk_ms"] = 1e3 * _med(selfs.get("similarity.sim_topk", []))
    m["similarity.jobs_per_search"] = _med([n_jobs(s) for s in named("cli.search_doc_chunks")])
    prompt = selfs.get("rag.aggregated_excerpts", [])
    m["rag.prompt_ms"] = 1e3 * _med(
        [a + b for a, b in zip(prompt, selfs.get("rag.contextualized_prompt", []))]
    )

    # the extra step's layers, measured once each outside the measured phase
    def every(name):
        return [s for s in tracer.spans if s.name == name]

    m["similarity.knn_join_s"] = sum(wall(s) for s in every("similarity.knn_join"))
    for stage, key in (
        ("exact_dedup", "exact"),
        ("minhash_pairs", "minhash_pairs"),
        ("dedup_assign", "assign"),
        ("semdedup", "semdedup"),
    ):
        m[f"dedup.{key}_s"] = sum(wall(s) for s in every(f"dedup.{stage}"))
    m["dedup.assign_jobs"] = sum(n_jobs(s) for s in every("dedup.dedup_assign"))
    m["dedup.semdedup_jobs"] = sum(n_jobs(s) for s in every("dedup.semdedup"))
    m["dedup.pairs_reported"] = ctx.detail.get("dedup_pairs", 0)
    m["dedup.pair_precision"] = ctx.detail.get("dedup_pair_precision", 0.0)
    m["ann.smallworld_build_s"] = sum(wall(s) for s in every("ann.smallworld_build"))
    probes = every("ann.smallworld_topk")
    m["ann.walk_ms"] = 1e3 * _med([wall(s) for s in probes])
    m["ann.walk_jobs_per_probe"] = _med([n_jobs(s) for s in probes])

    data_epochs = [e for e in epochs if e["rows"] > 0]
    for i, e in enumerate(data_epochs[:EPOCHS]):
        d = e["duration_ms"]
        m[f"stream.epoch_s.{i}"] = d.get("triggerExecution", 0) / 1e3
        m[f"stream.add_batch_s.{i}"] = d.get("addBatch", 0) / 1e3
        m[f"stream.wal_commit_ms.{i}"] = d.get("walCommit", 0)
    streams = every("streaming.ann.run_hnsw_stream")
    if streams and data_epochs:
        m["stream.jobs_per_epoch"] = n_jobs(streams[0]) / len(data_epochs)
        first = m["stream.add_batch_s.0"]
        m["stream.epoch_growth"] = m[f"stream.add_batch_s.{EPOCHS - 1}"] / first if first else 0.0

    measured_jobs = tr.span_jobs(tracer, owned, measure)
    for k, v in tr.engine_totals(measured_jobs, (measure.start, measure.end)).items():
        m[f"spark.{k}"] = v

    per_span = {}
    for s in tracer.spans:
        own = owned.get(s.id, [])
        per_span[s.id] = tr.engine_totals(own, (s.start, s.end)) if own else {}
    return {
        "per_layer": {k: (m[k], u) for k, u in UNITS.items()},
        "spans": [dict(d, engine=per_span[d["id"]]) for d in tracer.to_json()],
        "epochs": epochs,
        "forced_self_s": selfs,
    }
