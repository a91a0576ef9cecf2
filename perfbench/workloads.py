"""The two workloads: ``bulk_build`` and ``search_mix``.

Both are single-process, closed loop with one client, on
``local[<cores>]``. Each run sets up (session, warm-up, inputs), runs whole
rounds of its timed operation until ``seconds`` have passed (at least one
round), then checks the outputs. Every end-to-end metric is reported on
both workloads; see perfbench/METRICS.md for definitions.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from perfbench import corpus
from perfbench.trace import Tracer, file_state, tree_bytes, written_since

N_FILES = 200          # seeded corpus for the bulk build and the warm store
N_WARMUP_FILES = 24    # discarded warm-up build (doc ids 0..23 hit every variant)
N_INGEST_FILES = 50    # traced incremental batch, entities overlap the store
N_BUCKETS = 8          # store buckets, sized to the corpus
JOB_ID = "perfbench"
LIMIT = 10
MIN_PR = 0.95
# integrity_report columns that must be zero on a correct graph
MUST_BE_ZERO = ("n_dangling_edges", "n_selfloop_edges", "n_empty_episodes")

# per-layer metric -> unit; a layer the workload does not exercise reports 0
PER_LAYER = {
    "sources.episodes_s": "s",
    "sources.chunked_files": "count",
    "extraction.mentions_s": "s",
    "extraction.triples_s": "s",
    "extraction.raw_triples_out": "count",
    "resolution.resolve_s": "s",
    "resolution.fuzzy_candidates": "count",
    "resolution.fuzzy_verified": "count",
    "resolution.fuzzy_yield": "ratio",
    "edges.dedupe_s": "s",
    "edges.dedup_ratio": "ratio",
    "temporal.invalidate_s": "s",
    "temporal.invalidated_out": "count",
    "embeddings.fill_s": "s",
    "embeddings.vectors_out": "count",
    "writer.merge_s": "s",
    "writer.merge_calls": "count",
    "writer.bytes_written": "bytes",
    "writer.buckets_rewritten": "count",
    "writer.write_amp": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.commits": "count",
    "api.ingest_s": "s",
    "api.ingest_self_s": "s",
    "api.search_self_s": "s",
    "search.bm25_s": "s",
    "search.cosine_s": "s",
    "search.bfs_s": "s",
    "search.rerank_s": "s",
    "search.rows_scanned_per_result": "ratio",
    "community.build_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.spans": "count",
    "trace.overhead_s": "s",
}


class Run:
    """State of one benchmark run: session, scratch dir, tracer, gate tally."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        # spans are recorded only in the traced section, after the timed rounds
        self.tracer = Tracer(spark, f"{seed}-{os.getpid()}")
        self.traced_root = ""  # span whose Spark jobs the spark.* metrics cover
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0)
        self.op_times: list[float] = []

    def gate(self, name: str, ok: bool, detail: object = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)
        return ok

    def attempt(self, name: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: operation failed: {name}", file=sys.stderr)
            traceback.print_exc()
            return None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def store(self, name: str):
        from graphiti_spark.storage.writer import GraphStore

        shutil.rmtree(self.path(name), ignore_errors=True)
        return GraphStore(self.spark, self.path(name), n_buckets=N_BUCKETS)


# ---- inputs and output checks ------------------------------------------

def source_files(run: Run, name: str, rows: list[dict]):
    from graphiti_spark.sources import synth_source_files

    return synth_source_files(run.spark, corpus.write_documents(rows, run.path(name)))


def check_source(run: Run, src, docs: list[dict]) -> tuple[dict, int]:
    """North-rule per-row invariant content_sha256 == sha256(content),
    checked in Python. Returns (repo by doc id, input content bytes)."""
    rows = src.select("file_seq", "repo", "content", "content_sha256").collect()
    bad = [r.file_seq for r in rows
           if hashlib.sha256(r.content.encode()).hexdigest() != r.content_sha256]
    run.gate("content_sha256", not bad and len(rows) == len(docs), bad[:5])
    return {r.file_seq: r.repo for r in rows}, sum(len(r.content.encode()) for r in rows)


def store_triples(store) -> tuple[set[tuple], set[tuple]]:
    """(all, currently valid) (group, subject, predicate, object) triples
    read back from the store; "currently valid" is the program's own
    ``currently_valid`` filter, so it holds only edges that invalidation
    left open."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.temporal import currently_valid

    edges, nodes = store.read("edges").drop("bucket"), store.read("nodes").drop("bucket")
    edges = edges.join(currently_valid(edges).select("uuid", F.lit(True).alias("_cur")),
                       "uuid", "left")
    rows = (
        edges.join(nodes.selectExpr("uuid as source_node_uuid", "name as subject"), "source_node_uuid")
        .join(nodes.selectExpr("uuid as target_node_uuid", "name as object"), "target_node_uuid")
        .select("group_id", "subject", "name", "object", "_cur").collect()
    )
    every = {tuple(r[:4]) for r in rows}
    return every, {tuple(r[:4]) for r in rows if r["_cur"]}


def pr(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 0.0), (hit / len(want) if want else 0.0)


def triple_pr(run: Run, store, docs: list[dict], repo_by_id: dict) -> tuple[float, float]:
    """Precision/recall of the stored triples against the sequential
    reference skeleton run on the same generated documents, over all
    triples, over the currently valid ones (reference edges whose
    ``invalid_at`` is None) as ``tools/pr_vs_reference`` gates them, and
    over the ones invalidation closed. Returns the all-triples pair."""
    saved = list(sys.path)
    try:
        from tools.pr_vs_reference import reference_skeleton
    finally:
        sys.path[:] = saved  # the tool prepends its own checkout path
    ref = reference_skeleton([
        {"doc_id": d["doc_id"], "repo": repo_by_id[d["doc_id"]], "text": d["text"], "lang": d["lang"]}
        for d in docs
    ])
    got, got_current = store_triples(store)
    p, r = pr(got, set(ref))
    run.gate("triple_pr", p >= MIN_PR and r >= MIN_PR, (p, r))
    want_current = {k for k, e in ref.items() if e["invalid_at"] is None}
    pc, rc = pr(got_current, want_current)
    run.gate("triple_pr_current", pc >= MIN_PR and rc >= MIN_PR, (pc, rc))
    # invalidation closes only a few % of the triples, so the current-set
    # P/R above would still pass if it were skipped; the closed set would not
    pi, ri = pr(got - got_current, set(ref) - want_current)
    run.gate("triple_pr_invalidated", pi >= MIN_PR and ri >= MIN_PR, (pi, ri))
    return p, r


def check_integrity(run: Run, graph, when: str) -> None:
    rows = graph.integrity_report().collect()
    bad = [(r.group_id, c, r[c]) for r in rows for c in MUST_BE_ZERO if r[c]]
    run.gate(f"integrity_after_{when}", bool(rows) and not bad, bad[:5])


def check_lineage(run: Run, store, src) -> None:
    audit = store.verify_checkpoint(JOB_ID, src).collect()
    run.gate("verify_checkpoint", bool(audit) and all(r.ok for r in audit),
             [r.bucket for r in audit if not r.ok])


def count_edges(store) -> int:
    return store.read("edges").count()


# ---- bulk_build -----------------------------------------------------------

def build(run: Run, src, store) -> float:
    from graphiti_spark.plans.checkpoint import run_with_checkpoint

    t = time.perf_counter()
    run_with_checkpoint(src, store, JOB_ID, commit_batches=1)
    return time.perf_counter() - t


def bulk_build(run: Run, t_start: float) -> dict:
    # discarded first build: pays JIT and codegen before anything is timed
    warm_docs = corpus.documents(N_WARMUP_FILES, run.seed + 1_000_003)
    build(run, source_files(run, "warmup_docs", warm_docs), run.store("warmup_store"))
    docs = corpus.documents(N_FILES, run.seed)
    src = source_files(run, "docs", docs)
    setup_s = time.perf_counter() - t_start

    times, store = [], None
    t0 = time.perf_counter()
    while not times or time.perf_counter() - t0 < run.seconds:
        store = run.store("store")  # the last build's store stays for the checks
        dt = run.attempt("run_with_checkpoint", lambda: build(run, src, store))
        if dt is None:
            break
        times.append(dt)
    if not times:
        raise RuntimeError("every bulk build failed")

    repo_by_id, in_bytes = check_source(run, src, docs)
    check_lineage(run, store, src)
    from graphiti_spark.api import GraphitiSpark

    check_integrity(run, GraphitiSpark(run.spark, store), "bulk")
    p, r = triple_pr(run, store, docs, repo_by_id)
    if run.trace:
        traced_bulk(run, src, docs, repo_by_id, in_bytes, statistics.median(times))
    return end_to_end(run, setup_s, times, count_edges(store),
                      p, r, tree_bytes(store.base_path) / in_bytes)


def traced_bulk(run: Run, src, docs, repo_by_id, in_bytes: int, untraced: float) -> None:
    """The bulk build again, stage by stage, each stage materialized at its
    boundary so a stage's span holds its own compute; then one overlapping
    incremental batch through ``add_episode_bulk``."""
    from pyspark.sql import functions as F

    from graphiti_spark.functions.embeddings import fill_edge_embeddings, fill_node_embeddings
    from graphiti_spark.operators.edges import build_episodic_edges, dedupe_then_resolve
    from graphiti_spark.operators.extraction import extract_mentions, extract_triples
    from graphiti_spark.operators.resolution import resolve_nodes
    from graphiti_spark.operators.temporal import invalidate_contradictions
    from graphiti_spark.plans.pipeline import salted_repartition
    from graphiti_spark.sources.episodes import episodes_from_source_files, should_chunk
    from graphiti_spark.storage.writer import lineage_stats

    tr, L = run.tracer, run.layer
    tr.enabled, run.traced_root = True, "bulk.build"
    store = run.store("traced_store")
    tr.wrap(store, "merge_upsert", "writer.merge_upsert")
    before = file_state(store.base_path)
    with tr.span("bulk.build") as root:
        with tr.span("sources.episodes"):
            episodes = episodes_from_source_files(salted_repartition(src)).localCheckpoint()
        ex = episodes.select("uuid", "group_id", "valid_at", "source", "content")
        with tr.span("extraction.mentions"):
            mentions_raw = extract_mentions(ex).localCheckpoint()
        with tr.span("extraction.triples"):
            triples_raw = extract_triples(ex, distinct=False).localCheckpoint()
        with tr.span("resolution.resolve"):
            nodes, cmap, _, remap = resolve_nodes(mentions_raw, fuzzy=True)
            nodes, cmap, remap = nodes.localCheckpoint(), cmap.localCheckpoint(), remap.localCheckpoint()
        with tr.span("edges.dedupe"):
            edges = dedupe_then_resolve(triples_raw, remap).localCheckpoint()
            mentions = build_episodic_edges(mentions_raw, cmap).localCheckpoint()
        with tr.span("temporal.invalidate"):
            edges = invalidate_contradictions(edges).localCheckpoint()
        with tr.span("embeddings.fill"):
            nodes = fill_node_embeddings(nodes).localCheckpoint()
            edges = fill_edge_embeddings(edges).localCheckpoint()
        with tr.span("writer.merge"):
            for table, df in (("episodes", episodes), ("nodes", nodes),
                              ("edges", edges), ("mentions", mentions)):
                store.merge_upsert(table, df)
        with tr.span("checkpoint.commit"):
            store.commit_buckets(JOB_ID, lineage_stats(src, edges, store.n_buckets))
    traced_wall = root["end"] - root["start"]
    wrote, buckets = written_since(before, file_state(store.base_path))

    check_lineage(run, store, src)
    triple_pr(run, store, docs, repo_by_id)
    n_raw, n_edges = triples_raw.count(), edges.count()
    cand, verified = fuzzy_counts(mentions_raw)
    L.update({
        "sources.episodes_s": tr.total("sources.episodes"),
        "sources.chunked_files": src.where(should_chunk(F.col("content"))).count(),
        "extraction.mentions_s": tr.total("extraction.mentions"),
        "extraction.triples_s": tr.total("extraction.triples"),
        "extraction.raw_triples_out": n_raw,
        "resolution.resolve_s": tr.total("resolution.resolve"),
        "resolution.fuzzy_candidates": cand,
        "resolution.fuzzy_verified": verified,
        "resolution.fuzzy_yield": verified / cand if cand else 0.0,
        "edges.dedupe_s": tr.total("edges.dedupe"),
        "edges.dedup_ratio": n_edges / n_raw if n_raw else 0.0,
        "temporal.invalidate_s": tr.total("temporal.invalidate"),
        "temporal.invalidated_out": edges.where(F.col("invalid_at").isNotNull()).count(),
        "embeddings.fill_s": tr.total("embeddings.fill"),
        "embeddings.vectors_out": nodes.count() + n_edges,
        "writer.merge_s": tr.total("writer.merge"),
        "writer.merge_calls": tr.calls("writer.merge_upsert"),
        "writer.bytes_written": wrote,
        "writer.buckets_rewritten": buckets,
        "writer.write_amp": wrote / in_bytes,
        "checkpoint.commit_s": tr.total("checkpoint.commit"),
        "checkpoint.commits": tr.calls("checkpoint.commit"),
        "trace.overhead_s": traced_wall - untraced,
    })
    traced_ingest(run, store)


def fuzzy_counts(mentions_raw) -> tuple[int, int]:
    """(LSH candidate pairs, verified fuzzy pairs) over the exact-block
    representatives ``resolve_nodes`` builds: one (uuid, group_id,
    norm_name) row per distinct normalized name. The verified count is the
    program's own ``fuzzy_duplicate_pairs``; the candidate count mirrors
    its blocking (band keys, bucket-width cap, self-join, dedup) without
    the Jaccard verify, which no public function exposes."""
    from pyspark.sql import Window, functions as F

    from graphiti_spark import config
    from graphiti_spark.functions.hashing import make_lsh_band_keys_udf
    from graphiti_spark.functions.text import normalize_exact, normalize_fuzzy
    from graphiti_spark.ids import entity_uuid
    from graphiti_spark.operators.resolution import fuzzy_duplicate_pairs

    reps = (
        mentions_raw.select("group_id", normalize_exact(F.col("name")).alias("norm_name")).distinct()
        .withColumn("uuid", entity_uuid("group_id", F.col("norm_name")))
        .localCheckpoint()
    )
    band_keys = make_lsh_band_keys_udf(band_size=config.LSH_BAND_SIZE_SELFJOIN)
    keyed = (
        reps.withColumn("band_key", F.explode(band_keys(normalize_fuzzy(F.col("norm_name")))))
        .withColumn("w", F.count("*").over(Window.partitionBy("group_id", "band_key")))
        .where(F.col("w") <= config.LSH_BUCKET_CAP)
        .localCheckpoint()
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.group_id") == F.col("b.group_id"))
               & (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.uuid") < F.col("b.uuid")))
        .select(F.col("a.uuid").alias("a"), F.col("b.uuid").alias("b"))
        .dropDuplicates().count()
    )
    return cand, fuzzy_duplicate_pairs(reps).count()


def traced_ingest(run: Run, store) -> None:
    """One ``add_episode_bulk`` batch into the traced store; the API's self
    time is its span minus the store calls made beneath it."""
    from graphiti_spark.api import GraphitiSpark

    tr = run.tracer
    docs = corpus.documents(N_INGEST_FILES, run.seed + 7, first_id=N_FILES)
    batch = source_files(run, "ingest_docs", docs)
    graph = GraphitiSpark(run.spark, store)
    for method in ("read", "replace_groups"):
        tr.wrap(store, method, f"store.{method}")
    with tr.span("api.ingest"):
        out = graph.add_episode_bulk(batch)
    want = {r.uuid for r in out.episodes.select("uuid").collect()}
    have = {r.uuid for r in store.read("episodes").select("uuid").collect()}
    run.gate("ingested_episodes_present", bool(want) and want <= have, len(want - have))
    check_integrity(run, graph, "ingest")
    run.layer["api.ingest_s"] = tr.total("api.ingest")
    run.layer["api.ingest_self_s"] = tr.self_time("api.ingest")


# ---- search_mix -------------------------------------------------------------

def search_calls(rng: random.Random, tails: list[str], center: str, origin: str) -> list[dict]:
    """One round of the mix: a tail identifier plus a head term over every
    scope, reranked with rrf; then head terms under SearchFilters, reranked
    by node_distance, with the bfs arm seeded from a stored node."""
    from graphiti_spark.api import SearchConfig, SearchFilters

    def head(k: int) -> str:
        return " ".join(rng.sample(corpus.ENTITY_HEAD, k))

    return [
        {"query": f"{rng.choice(tails)} {head(1)}", "kw": {}},
        {"query": head(2),
         "kw": {"search_config": SearchConfig(scopes=("edges", "nodes"), rerank="node_distance",
                                              methods=("bm25", "cosine", "bfs")),
                "filters": SearchFilters(node_labels=["Operation", "Object"],
                                         edge_types=["OPERATES_ON", "PRECEDES", "FEEDS", "RELATES_TO"]),
                "center_node_uuid": center, "bfs_origin_node_uuids": [origin]}},
    ]


def run_search(graph, call: dict) -> dict[str, int]:
    out = graph.search(call["query"], **call["kw"])
    return {scope: len(df.collect()) for scope, df in out.items()}


def search_round(run: Run, graph, calls: list[dict], times: list[float] | None) -> int:
    """Run ``calls`` in order; returns the number of result rows."""
    results = 0
    for call in calls:
        t = time.perf_counter()
        with run.tracer.span("api.search"):
            sizes = run.attempt("search", lambda: run_search(graph, call))
        if sizes is None:
            continue
        if times is not None:
            times.append(time.perf_counter() - t)
        run.gate("search_rows", all(1 <= n <= LIMIT for n in sizes.values()),
                 (call["query"], sizes))
        results += sum(sizes.values())
    return results


def search_mix(run: Run, t_start: float) -> dict:
    from pyspark.sql import functions as F

    from graphiti_spark.api import GraphitiSpark

    docs = corpus.documents(N_FILES, run.seed)
    src = source_files(run, "docs", docs)
    store = run.store("store")
    build(run, src, store)  # the first work in the session: also warms the JIT
    graph = GraphitiSpark(run.spark, store)
    t = time.perf_counter()
    graph.communities_tables(refresh=True)
    run.layer["community.build_s"] = time.perf_counter() - t
    rng = random.Random(run.seed)
    # graph-seeded calls start from head entities of the mega-repo, which
    # every seed's corpus has at the same size
    heads = (store.read("nodes")
             .where(F.col("name").isin(*corpus.ENTITY_HEAD) & (F.col("group_id") == corpus.MEGA_REPO))
             .select("uuid").orderBy("uuid").collect())
    center, origin = rng.choice(heads).uuid, rng.choice(heads).uuid
    tails = corpus.tail_terms(docs)
    # discarded warm-up round: compiles every plan of the mix (all four
    # scopes, filters, bfs, rrf and node_distance) before anything is timed
    search_round(run, graph, search_calls(rng, tails, center, origin), None)
    setup_s = time.perf_counter() - t_start

    times: list[float] = []
    rounds, t0 = 0, time.perf_counter()
    while not rounds or time.perf_counter() - t0 < run.seconds:
        calls = search_calls(rng, tails, center, origin)
        t = time.perf_counter()
        search_round(run, graph, calls, times)
        round_s, rounds = time.perf_counter() - t, rounds + 1
    if not times:
        raise RuntimeError("every search failed")

    repo_by_id, in_bytes = check_source(run, src, docs)
    p, r = triple_pr(run, store, docs, repo_by_id)
    if run.trace:
        traced_search(run, graph, store, calls, round_s)
    return end_to_end(run, setup_s, times, count_edges(store),
                      p, r, tree_bytes(store.base_path) / in_bytes)


def traced_search(run: Run, graph, store, calls: list[dict], untraced: float) -> None:
    """The last timed round again under spans, with the store reads made
    beneath each ``api.search`` as child spans. Then each call once per
    candidate arm, with only that arm configured and ``rrf`` as reranker,
    and once with ``rrf`` in place of its own reranker. All of these go
    through ``GraphitiSpark.search`` with the call's own scopes, filters
    and origins, so they run the program's plan."""
    from dataclasses import replace

    from graphiti_spark.api import SearchConfig

    tr = run.tracer
    rows = {scope: store.read(scope).count() for scope in ("edges", "nodes", "episodes")}
    rows["communities"] = graph.communities_tables()[0].count()
    tr.enabled, run.traced_root = True, "search.round"
    tr.wrap(store, "read", "store.read")
    with tr.span("search.round") as root:
        results = search_round(run, graph, calls, None)
    full = [s for s in tr.spans if s["name"] == "api.search"]  # one per call, in order
    scanned, rerank = 0, 0.0
    for call, span in zip(calls, full):
        cfg = call["kw"].get("search_config") or SearchConfig()
        scanned += sum(rows[scope] for scope in cfg.scopes)
        arms = [m for m in cfg.methods
                if m != "bfs" or call["kw"].get("bfs_origin_node_uuids")]
        for arm in arms:
            with tr.span(f"search.{arm}"):
                run.attempt(f"search.{arm}", lambda: run_search(graph, with_config(
                    call, replace(cfg, methods=(arm,), use_bfs=False, rerank="rrf"))))
        if cfg.rerank != "rrf":
            with tr.span("search.rrf_only") as rec:
                run.attempt("search.rrf_only", lambda: run_search(
                    graph, with_config(call, replace(cfg, rerank="rrf"))))
            rerank += (span["end"] - span["start"]) - (rec["end"] - rec["start"])
    run.layer.update({
        "api.search_self_s": tr.self_time("api.search"),
        "search.bm25_s": tr.total("search.bm25"),
        "search.cosine_s": tr.total("search.cosine"),
        "search.bfs_s": tr.total("search.bfs"),
        "search.rerank_s": rerank,
        "search.rows_scanned_per_result": scanned / results if results else 0.0,
        "trace.overhead_s": (root["end"] - root["start"]) - untraced,
    })


def with_config(call: dict, cfg) -> dict:
    return {"query": call["query"], "kw": {**call["kw"], "search_config": cfg}}


# ---- result -------------------------------------------------------------------

def end_to_end(run: Run, setup_s: float, times: list[float], n_triples: int,
               p: float, r: float, amp: float) -> dict:
    run.op_times = times
    return {
        "setup_s": (setup_s, "s"),
        "op_s": (statistics.median(times), "s"),
        "op_tail_s": (max(times), "s"),
        "triples_per_s": (n_triples / statistics.median(times), "1/s"),
        "triple_precision": (p, "ratio"),
        "triple_recall": (r, "ratio"),
        "store_bytes_per_input_byte": (amp, "ratio"),
    }


WORKLOADS = {"bulk_build": bulk_build, "search_mix": search_mix}
