"""The two workloads. Each drives the engine only through its public
functions, and each op exists twice: the untraced op is the call sequence a
user makes (the end-to-end figures come from it); the traced op composes
the same public operator calls, in the order the entry point makes them,
with a span around every call into a layer and the output materialised at
each layer boundary, so every job lands in one layer.

construct_batch is the write path (batch job, then streaming MERGE);
graph_query is the read path (a retrieval store indexed from deduplicated
documents, then queries). Together they reach every layer. Sizes are
chosen so that a run of each, with a Spark start, set-up and checks, fits
the benchmark's time budget on 4 CPUs; see README.md.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from stats import fingerprint_rows, spark_fingerprint

# Input sizes (see README.md).
CONSTRUCT_TURNS = 600       # ~95 conversations, 2 checkpointed batches
STREAM_TURNS = 300          # turns per streaming micro-batch (~50 conversations)
STREAM_RESENT = 5           # conversations re-sent from the previous micro-batch
STREAM_BUCKETS = 16
GRAPH_CONVS = 200           # conversations behind the graph_query store
GRAPH_COPIES = 20           # of them re-sent verbatim under a new id
GRAPH_NEAR_COPIES = 10      # of them re-sent with a few words changed
GRAPH_SEED = 7              # the graph is fixed; the run seed picks queries


class Ctx:
    """Per-run state: the session, the work directory, the tracer (None on
    an untraced run) and the per-op notes of layer counts."""

    def __init__(self, spark, work: str, cache: str, seed: int, source: str = ""):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.source = source    # hash of the engine's sources (cache key)
        self.tracer = None
        self.notes: dict[str, dict[str, float]] = {}
        self.op = "setup"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, op: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op=op)

    def note(self, key: str, value: float) -> None:
        d = self.notes.setdefault(self.op, {})
        d[key] = d.get(key, 0) + value

    def mat(self, df, key: str | None = None):
        """Materialise ``df`` at a layer boundary on a traced run (persist +
        count, so its jobs run inside the open span); a no-op otherwise."""
        if self.tracer is None:
            return df
        from agraph_spark.caching import track

        if not df.is_cached:
            df = track(df)
        n = df.count()
        if key:
            self.note(key, n)
        return df


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def fixed_turn_transcripts(n_turns: int, seed: int) -> pd.DataFrame:
    """Seeded synthetic conversations (``synth.make_transcripts``: 5%
    long-tail conversations, 30% hot-org mentions) cut to exactly
    ``n_turns`` turns, so every seed gives the same input size."""
    from agraph_spark.synth import make_transcripts

    pdf = make_transcripts(n_convs=max(20, n_turns // 3), seed=seed)
    pdf = pdf.iloc[:n_turns]
    rng = np.random.default_rng(seed + 1)
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def to_spark(spark, pdf: pd.DataFrame):
    from agraph_spark.schemas import TRANSCRIPTS

    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)


# ------------------------------------------------------------ shared layers

def build_traced(ctx: Ctx, transcripts):
    """``pipeline.build_kg`` (mode "fused", cached documents) composed from
    its operators: reassemble -> fused kernel -> relations -> triples."""
    from pyspark.sql import functions as F

    from agraph_spark.caching import track
    from agraph_spark.operators.fused import extract_documents_fused
    from agraph_spark.operators.reassemble import reassemble_conversations

    with ctx.span("reassemble"):
        docs = ctx.mat(reassemble_conversations(transcripts), "reassemble.docs_out")
    with ctx.span("fused"):
        extracted = track(extract_documents_fused(docs))
        extracted.count()
        sizes = extracted.select(F.sum(F.size("ents")), F.sum(F.size("cands"))).first()
        ctx.note("fused.ents_out", sizes[0] or 0)
        ctx.note("fused.cands_out", sizes[1] or 0)
    triples, entities = relations_traced(ctx, extracted)
    return triples, entities, extracted


def relations_traced(ctx: Ctx, extracted):
    from pyspark.sql import functions as F

    from agraph_spark.operators.relations import (
        cooccurrence_relations, pattern_relations, to_triples, validate_relations)

    with ctx.span("relations"):
        entities = extracted.select("conv_id", F.explode("ents").alias("e")).select(
            "conv_id", "e.name", "e.name_norm", "e.entity_type", "e.confidence",
            "e.entity_order",
        )
        candidates = extracted.select("conv_id", F.explode("cands").alias("c")).select(
            "conv_id", "c.pred", "c.head_text", "c.tail_text"
        )
        pat = ctx.mat(pattern_relations(candidates, entities), "relations.resolved")
        coo = cooccurrence_relations(extracted.select("conv_id", "text"), entities)
        triples = ctx.mat(to_triples(validate_relations(pat.unionByName(coo))),
                          "relations.triples_out")
        if ctx.tracer is not None:
            ctx.note("relations.candidates_in", candidates.count())
    return triples, entities


def link_traced(ctx: Ctx, nodes):
    """``linking.link_entities`` with its defaults, composed from its steps."""
    from pyspark.sql import functions as F

    from agraph_spark.operators.linking import (
        canonical_mapping, lsh_candidate_pairs, score_candidates, stub_verify_model,
        verify_pairs_batched)

    with ctx.span("linking"):
        cand = ctx.mat(lsh_candidate_pairs(nodes, num_hash_tables=4, max_name_len=32,
                                           max_name_words=4, log_excluded=False),
                       "linking.candidate_pairs")
        verified = verify_pairs_batched(score_candidates(cand, 0.7), stub_verify_model)
        confirmed = ctx.mat(verified.where(F.col("is_duplicate")).select("id_a", "id_b"),
                            "linking.confirmed_pairs")
        mapping = ctx.mat(canonical_mapping(confirmed), "linking.mappings_out")
    return mapping


# ------------------------------------------------------------ construct_batch

class ConstructBatch:
    """The write path. One op is what a deployment runs between two reads of
    its graph: the spark-submit batch job (scripts/run_pipeline.py:
    ``run_checkpointed`` in 2 batches, then ``finalize_graph(link=True)``)
    over 600 seeded turns, then one streaming micro-batch (500 turns: 10
    conversations re-sent from the previous micro-batch, then new ones) MERGEd by
    ``streaming.incremental.process_microbatch_merge`` into a 16-bucket
    triple store that grows during the run."""

    item = "turns"
    # No warm-up: warming the batch job's plans takes a batch job. Op 0 pays
    # the first use of every plan shape (the JIT, generated code, the
    # Python-worker start) and creates the store, as the first job of every
    # spark-submit run does; op 1 runs warm. The median of the two is
    # reported.
    setup_reps, min_ops = 9, 2

    def setup(self, ctx: Ctx) -> None:
        pdf = fixed_turn_transcripts(CONSTRUCT_TURNS, ctx.seed)
        if hasattr(self, "tdf"):
            self.tdf.unpersist()
        self.tdf = to_spark(ctx.spark, pdf).persist()
        self.n_turns = self.tdf.count()
        self.store = ctx.path("stream", "store")
        self.stream: list[pd.DataFrame] = []

    def micro_batch(self, ctx: Ctx):
        """The next micro-batch ``b``: the last STREAM_RESENT conversations
        of b-1, then new conversations seeded by (run seed, b), cut to
        exactly STREAM_TURNS turns so every seed streams the same size."""
        from agraph_spark.synth import make_transcripts

        b = len(self.stream)
        new = make_transcripts(n_convs=STREAM_TURNS // 3, seed=ctx.seed * 100_003 + b)
        new["conv_id"] = f"b{b:04d}_" + new["conv_id"]
        parts = [new]
        if b > 0:
            prev = self.stream[b - 1]
            resent = sorted(prev["conv_id"].unique())[-STREAM_RESENT:]
            parts.insert(0, prev[prev["conv_id"].isin(resent)])
        pdf = pd.concat(parts, ignore_index=True).iloc[:STREAM_TURNS]
        self.stream.append(pdf)
        return b, to_spark(ctx.spark, pdf), len(pdf)

    def merge_next(self, ctx: Ctx) -> int:
        from agraph_spark.streaming.incremental import process_microbatch_merge

        b, df, n = self.micro_batch(ctx)
        process_microbatch_merge(df, b, self.store, n_buckets=STREAM_BUCKETS)
        return n

    def op(self, ctx: Ctx, i: int):
        from agraph_spark.caching import release_caches
        from agraph_spark.checkpoint import finalize_graph, run_checkpointed

        out = ctx.path("construct", f"op{i}")
        run_checkpointed(ctx.spark, self.tdf, out, n_batches=2)
        finalize_graph(ctx.spark, out, link=True)
        persisted = release_caches(ctx.spark)
        n = self.merge_next(ctx)
        ctx.note("caching.persisted_per_op", persisted + release_caches(ctx.spark))
        return self.n_turns + n, out

    def op_traced(self, ctx: Ctx, i: int):
        from pyspark.sql import functions as F

        from agraph_spark.caching import release_caches, track
        from agraph_spark.checkpoint import CheckpointManifest, batch_col, read_all_triples
        from agraph_spark.materialize import build_edges, build_nodes
        from agraph_spark.operators.integrity import enforce_referential_integrity
        from agraph_spark.operators.linking import merge_nodes, repoint_edges
        from agraph_spark.streaming.incremental import merge_triples_into_store

        spark = ctx.spark
        out = ctx.path("construct", f"op{i}")
        with ctx.span("checkpoint"):
            manifest = CheckpointManifest(out)
            tb = track(self.tdf.withColumn("batch_id", batch_col(2)))
            for b in range(2):
                t0 = time.time()
                sub = tb.where(F.col("batch_id") == b).drop("batch_id")
                triples, entities, extracted = build_traced(ctx, sub)
                tpath = os.path.join(out, "triples", f"batch={b}")
                epath = os.path.join(out, "entities", f"batch={b}")
                triples.withColumn("lineage", F.lit(f"batch={b}")).write.mode(
                    "overwrite").parquet(tpath)
                entities.withColumn("lineage", F.lit(f"batch={b}")).write.mode(
                    "overwrite").parquet(epath)
                n_trip = spark.read.parquet(tpath).count()
                n_ents = spark.read.parquet(epath).count()
                extracted.unpersist()
                manifest.record("triples", b, n_triples=n_trip, n_entities=n_ents,
                                seconds=round(time.time() - t0, 3))
                ctx.note("checkpoint.bytes_written", dir_bytes(tpath) + dir_bytes(epath))
        with ctx.span("materialize"):
            triples = read_all_triples(spark, out)
            entities = spark.read.parquet(os.path.join(out, "entities"))
            nodes = track(build_nodes(entities))
            edges = build_edges(triples)
            mapping = link_traced(ctx, nodes)
            edges = repoint_edges(edges, mapping)
            nodes = ctx.mat(track(merge_nodes(nodes, mapping)), "materialize.nodes_out")
            edges = ctx.mat(enforce_referential_integrity(nodes, edges),
                            "materialize.edges_out")
        with ctx.span("checkpoint"):
            nodes.write.mode("overwrite").parquet(os.path.join(out, "nodes"))
            edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
            ctx.note("checkpoint.bytes_written", dir_bytes(os.path.join(out, "nodes"))
                     + dir_bytes(os.path.join(out, "edges")))
        with ctx.span("caching"):
            ctx.note("caching.persisted_per_op", release_caches(spark))
        b, df, n = self.micro_batch(ctx)
        with ctx.span("incremental"):
            # the build half as child spans; the MERGE half is self time
            if not df.isEmpty():
                triples, _, extracted = build_traced(ctx, df)
                new = triples.withColumn("lineage", F.lit(f"stream_batch={b}"))
                merge_triples_into_store(spark, new, self.store, STREAM_BUCKETS)
                extracted.unpersist()
        with ctx.span("caching"):
            ctx.note("caching.persisted_per_op", release_caches(spark))
        return self.n_turns + n, out

    def before(self, ctx: Ctx):
        """Traced ops: store files and rows before the op (outside its span)."""
        return ({p: os.path.getsize(p) for p in parquet_files(self.store)},
                ctx.spark.read.parquet(self.store).count())

    def after(self, ctx: Ctx, before) -> None:
        """Traced ops: what the op's MERGE wrote into the store."""
        files, rows = before
        now = {p: os.path.getsize(p) for p in parquet_files(self.store)}
        new = {p: s for p, s in now.items() if p not in files}
        new_rows = ctx.spark.read.parquet(self.store).count() - rows
        ctx.note("incremental.buckets_touched",
                 len({os.path.basename(os.path.dirname(p)) for p in new}))
        ctx.note("incremental.bytes_written_per_new_row", sum(new.values()) / max(1, new_rows))
        ctx.note("incremental.store_bytes", sum(now.values()))

    def fingerprint(self, ctx: Ctx, out: str) -> dict:
        """The batch job's output (the store is checked once, in ``check``)."""
        spark = ctx.spark
        triples = spark.read.parquet(os.path.join(out, "triples"))
        nodes = spark.read.parquet(os.path.join(out, "nodes"))
        edges = spark.read.parquet(os.path.join(out, "edges"))
        entities = spark.read.parquet(os.path.join(out, "entities"))
        n_norm = entities.select("name_norm").distinct().count()
        fp = {
            "triples": spark_fingerprint(triples, ["conv_id", "subj", "pred", "obj"]),
            "nodes": spark_fingerprint(nodes, ["entity_id", "name_norm", "n_mentions"]),
            "edges": spark_fingerprint(edges, ["edge_id", "head_id", "tail_id"]),
        }
        fp["link_mappings"] = n_norm - fp["nodes"][0]
        # every edge endpoint must be a node (referential integrity)
        ids = nodes.select("entity_id")
        dangling = edges.join(ids.withColumnRenamed("entity_id", "head_id"), "head_id",
                              "left_anti").count() + edges.join(
            ids.withColumnRenamed("entity_id", "tail_id"), "tail_id", "left_anti").count()
        fp["dangling_edges"] = dangling
        with open(os.path.join(out, "_manifest.jsonl")) as f:
            manifest_total = sum(json.loads(line)["n_triples"] for line in f)
        fp["manifest_matches"] = int(manifest_total == fp["triples"][0])
        return fp

    def check(self, ctx: Ctx, fps: list[dict]) -> list[str]:
        """Every batch job gave the same output, with integrity; and the
        store equals one ``build_kg`` over every conversation streamed so
        far, deduplicated (computed after the timed window)."""
        from pyspark.sql import functions as F

        from agraph_spark.caching import release_caches
        from agraph_spark.pipeline import build_kg

        errs = []
        fps = [fp for fp in fps if fp is not None]
        if any(fp != fps[0] for fp in fps):
            errs.append("construct_batch: batch jobs of one run gave different outputs")
        if fps[0]["dangling_edges"]:
            errs.append("construct_batch: edges reference missing nodes")
        if not fps[0]["manifest_matches"]:
            errs.append("construct_batch: manifest counts differ from the written triples")

        def content(df):
            return spark_fingerprint(df.select("conv_id", "subj", "pred", "obj",
                                               F.round("conf", 6).alias("conf")))

        streamed = pd.concat(self.stream, ignore_index=True).drop_duplicates()
        want = content(build_kg(to_spark(ctx.spark, streamed)).triples)
        got = content(ctx.spark.read.parquet(self.store))
        release_caches(ctx.spark)
        if got != want:
            errs.append(f"construct_batch: stream store {got} != one build_kg of the "
                        f"same conversations {want}")
        return errs


# ------------------------------------------------------------ graph_query

def graph_transcripts() -> pd.DataFrame:
    """The conversations behind the graph: GRAPH_CONVS of seed GRAPH_SEED,
    plus GRAPH_COPIES re-sent verbatim and GRAPH_NEAR_COPIES re-sent with
    two words of their first turn swapped, each under a new id, so the
    store's dedup step has exact and near copies to find."""
    from agraph_spark.synth import make_transcripts

    pdf = make_transcripts(n_convs=GRAPH_CONVS, seed=GRAPH_SEED)
    rng = np.random.default_rng(GRAPH_SEED)
    ids = sorted(pdf["conv_id"].unique())
    picks = rng.choice(len(ids), size=GRAPH_COPIES + GRAPH_NEAR_COPIES, replace=False)
    parts = [pdf]
    for k, j in enumerate(picks):
        conv = pdf[pdf["conv_id"] == ids[j]].sort_values("turn_idx").copy()
        conv["conv_id"] = f"{ids[j]}_resent{k}"
        if k >= GRAPH_COPIES:
            words = conv["text"].iloc[0].split()
            a, b = rng.choice(len(words), size=2, replace=len(words) < 2)
            words[a], words[b] = words[b], words[a]
            conv.iloc[0, conv.columns.get_loc("text")] = " ".join(words)
        parts.append(conv)
    return pd.concat(parts, ignore_index=True)


class GraphQuery:
    """One closed-loop client over a retrieval store; each request runs
    chat_context, hybrid graph search and a 2-hop neighbourhood for one
    entity. The store is indexed once per engine version (``prepare``);
    set-up opens it, as a query server does when it starts."""

    item = "queries"
    # Warm-up: one request, for an entity the window does not query, since
    # the first request compiles the query plans and takes 3-4 s longer
    # than the others. Then at least four requests, so that the median
    # outlasts one request slowed by the host.
    setup_reps, min_ops = 3, 4
    KINDS = ("chat_context", "search_hybrid", "khop")

    def prepare(self, ctx: Ctx) -> bool:
        """The KG (``build_kg`` + ``materialize_graph(link=True)``) and the
        retrieval store indexed from it (``index``). Both are fixed, so they
        are built once per engine source and benchmark version and read by
        later runs; the run reports the time as its own phase, not as
        set-up. True when this call built them."""
        from agraph_spark.caching import release_caches
        from agraph_spark.materialize import materialize_graph
        from agraph_spark.pipeline import build_kg

        sizes = f"{GRAPH_CONVS},{GRAPH_COPIES},{GRAPH_NEAR_COPIES},{GRAPH_SEED}"
        with open(__file__, "rb") as f:
            key = hashlib.sha256((ctx.source + sizes).encode() + f.read()).hexdigest()[:16]
        self.kg = os.path.join(ctx.cache, f"kg-{key}")
        self.store = os.path.join(self.kg, "store")
        done = os.path.join(self.kg, "_DONE")
        if os.path.exists(done):
            with open(done) as f:
                self.dedup_fp = json.load(f)
            return False
        shutil.rmtree(ctx.cache, ignore_errors=True)   # KGs of other versions
        ctx.op = "prepare"      # its notes count towards no op
        b = build_kg(to_spark(ctx.spark, graph_transcripts()))
        nodes, edges = materialize_graph(b.entities, b.triples, link=True)
        nodes.write.parquet(os.path.join(self.kg, "nodes"))
        edges.write.parquet(os.path.join(self.kg, "edges"))
        b.documents.select("conv_id", "text").write.parquet(os.path.join(self.kg, "documents"))
        b.entities.select("conv_id", "name_norm").distinct().write.parquet(
            os.path.join(self.kg, "entities"))
        release_caches(ctx.spark)
        self.index(ctx, self.store)
        with open(done, "w") as f:
            json.dump(self.dedup_fp, f)
        return True

    def dedup(self, ctx: Ctx, docs):
        """Drop every document that is an exact copy or a near copy (MinHash
        LSH or word-3-gram Jaccard) of one with a smaller id."""
        from pyspark.sql import functions as F

        from agraph_spark.caching import track
        from agraph_spark.operators import dedup_docs as D
        from agraph_spark.operators.textstats import fingerprint

        # each pass is read twice (its fingerprint, the drop list): cached
        exact = ctx.mat(track(D.exact_dup_groups(docs, id_col="conv_id")))
        minhash = ctx.mat(track(D.minhash_lsh_pairs(docs, threshold=0.3, id_col="conv_id")),
                          "dedup_docs.minhash_pairs")
        ngram = ctx.mat(track(D.ngram_jaccard_pairs(docs, threshold=0.2, n=3,
                                                    id_col="conv_id")),
                        "dedup_docs.ngram_pairs")
        copies = (docs.select("conv_id", fingerprint(F.col("text")).alias("fp"))
                  .join(exact, "fp").where(F.col("conv_id") != F.col("keeper_id"))
                  .select(F.col("conv_id").alias("doc_b")))
        drop = copies.unionByName(minhash.select("doc_b")).unionByName(ngram.select("doc_b"))
        kept = ctx.mat(docs.join(drop.withColumnRenamed("doc_b", "conv_id"), "conv_id",
                                 "left_anti"))
        self.dedup_fp = {"exact": spark_fingerprint(exact, ["fp", "cnt", "keeper_id"]),
                         "minhash": spark_fingerprint(minhash),
                         "ngram": spark_fingerprint(ngram),
                         "kept": spark_fingerprint(kept)}
        return kept

    def index(self, ctx: Ctx, store: str) -> None:
        """Index the KG into a retrieval store: dedup the documents, embed
        nodes and relations, chunk, link and embed chunks, write."""
        from pyspark.sql import functions as F

        from agraph_spark import io
        from agraph_spark.caching import release_caches
        from agraph_spark.operators import vectors as V
        from agraph_spark.operators.chunking import chunk_documents, link_chunks_to_entities

        spark = ctx.spark
        with ctx.span("io"):
            nodes = spark.read.parquet(os.path.join(self.kg, "nodes"))
            edges = spark.read.parquet(os.path.join(self.kg, "edges"))
            docs = spark.read.parquet(os.path.join(self.kg, "documents"))
            ents = spark.read.parquet(os.path.join(self.kg, "entities"))
        with ctx.span("dedup_docs"):
            docs = self.dedup(ctx, docs)
        with ctx.span("vectors"):
            # materialize_graph(link=True) returns nodes without the
            # description column render_entity_text reads (README.md)
            nodes = ctx.mat(V.embed_hash_stub(V.render_entity_text(
                nodes.withColumn("description", F.lit("")))))
            names = nodes.select("entity_id", "name")
            er = (edges.join(names.select(F.col("entity_id").alias("head_id"),
                                          F.col("name").alias("head_name")), "head_id", "left")
                  .join(names.select(F.col("entity_id").alias("tail_id"),
                                     F.col("name").alias("tail_name")), "tail_id", "left")
                  .withColumn("description", F.lit("")))
            er = ctx.mat(V.embed_hash_stub(V.render_relation_text(er)))
        with ctx.span("chunking"):
            chunks = ctx.mat(chunk_documents(docs, chunk_size=64, overlap=16))
            links = ctx.mat(link_chunks_to_entities(chunks, ents).join(
                nodes.select("name_norm", "entity_id"), "name_norm").select(
                "chunk_id", "entity_id"))
        with ctx.span("vectors"):
            chunks = ctx.mat(V.embed_hash_stub(V.render_chunk_text(chunks)))
        with ctx.span("io"):
            io.write_graph(nodes, er, store, chunks=chunks)
            links.write.mode("overwrite").parquet(os.path.join(store, "links"))
            ctx.note("io.bytes_written", dir_bytes(store))
        release_caches(spark)

    def setup(self, ctx: Ctx) -> None:
        """Open the store: read it and cache its tables. A traced run first
        indexes a store of its own, so that the indexing layers (dedup_docs,
        vectors, chunking, io) are attributed."""
        from pyspark.sql import functions as F

        from agraph_spark import io

        spark = ctx.spark
        store = self.store
        if ctx.tracer is not None:
            store = ctx.path("graph", "store")
            self.index(ctx, store)
        for df in getattr(self, "tables", ()):
            df.unpersist()
        with ctx.span("io"):
            g = io.read_graph(spark, store)
            self.nodes = g["nodes"].persist()
            self.edges = g["edges"].persist()
            self.chunks = g["chunks"].persist()
            self.links = spark.read.parquet(os.path.join(store, "links")).persist()
            self.tables = (self.nodes, self.edges, self.chunks, self.links)
            for df in self.tables:
                df.count()
        # query entities: drawn by seed, weighted toward many mentions
        top = (self.nodes.orderBy(F.desc("n_mentions"), F.asc("entity_id"))
               .select("entity_id", "name", "n_mentions").limit(200).toPandas())
        rng = np.random.default_rng(ctx.seed)
        w = top["n_mentions"].to_numpy(dtype=float)
        picks = rng.choice(len(top), size=64, p=w / w.sum())
        self.queries = [(top["entity_id"][j], top["name"][j]) for j in picks]
        self.kind_s: list[dict] = []

    def _qvec(self, ctx: Ctx, name: str):
        from pyspark.sql import functions as F

        from agraph_spark.operators.vectors import embed_hash_stub
        from agraph_spark.session import local_df

        q = embed_hash_stub(local_df(ctx.spark, [(name,)], "render_text string"))
        return q.select(F.col("embedding").alias("query_vec"))

    def _query(self, ctx: Ctx, kind: str, eid: str, name: str):
        from pyspark.sql import functions as F

        from agraph_spark.operators import analytics as A
        from agraph_spark.operators import retrieval as R
        from agraph_spark.operators.components import bfs_distances

        if kind == "khop":
            if ctx.tracer is None:
                return A.k_hop_neighbors(self.edges, eid, k=2).collect()
            with ctx.span("analytics"):
                with ctx.span("components"):
                    bfs = ctx.mat(bfs_distances(self.edges, eid, max_depth=2, undirected=True),
                                  "components.reached_out")
                return bfs.where(F.col("dist") > 0).select(
                    "entity_id", F.col("dist").alias("hop")).collect()
        with ctx.span("vectors"):
            q = ctx.mat(self._qvec(ctx, name))
        with ctx.span("retrieval"):
            if kind == "chat_context":
                rows = R.chat_context(self.nodes, self.edges, self.chunks, q,
                                      chunk_entity_links=self.links).collect()
            else:
                rows = R.search_graph_modes(self.nodes, self.edges, self.chunks, q,
                                            mode="hybrid",
                                            chunk_entity_links=self.links).collect()
            ctx.note("retrieval.rows_out", len(rows))
        return rows

    def warm_up(self, ctx: Ctx) -> None:
        eid, name = self.queries[-1]
        for kind in self.KINDS:
            self._query(ctx, kind, eid, name)

    def op(self, ctx: Ctx, i: int):
        """One client request for one entity: context assembly, hybrid graph
        search and its 2-hop neighbourhood. Request 1 repeats request 0's
        entity, so the check can compare their rows."""
        eid, name = self.queries[max(0, i - 1)]
        out = {"entity": eid, "kind_s": {}}
        for kind in self.KINDS:
            t0 = time.perf_counter()
            rows = self._query(ctx, kind, eid, name)
            out["kind_s"][kind] = time.perf_counter() - t0
            out[kind] = list(fingerprint_rows(sorted(tuple(r) for r in rows)))
        self.kind_s.append(out["kind_s"])
        return 1, out

    op_traced = op

    def fingerprint(self, ctx: Ctx, out) -> dict:
        fp = {k: v for k, v in out.items() if k != "kind_s"}
        fp["dedup"] = self.dedup_fp
        return fp

    def check(self, ctx: Ctx, fps: list[dict]) -> list[str]:
        """A repeated request must return identical rows; context assembly
        and search must find something; every dedup pass must find pairs."""
        errs = []
        if fps[0] is not None and fps[1] is not None and fps[0] != fps[1]:
            errs.append("graph_query: a repeated request changed its rows")
        for fp in fps:
            if fp is not None and 0 in (fp["chat_context"][0], fp["search_hybrid"][0]):
                errs.append(f"graph_query: no rows for entity {fp['entity']}")
        if 0 in (self.dedup_fp["exact"][0], self.dedup_fp["minhash"][0],
                 self.dedup_fp["ngram"][0]):
            errs.append("graph_query: a dedup pass found no copies")
        return errs


WORKLOADS = {
    "construct_batch": ConstructBatch,
    "graph_query": GraphQuery,
}
