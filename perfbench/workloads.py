"""The workloads, built from four jobs. Each job owns a layer no other
job exercises:

- GenomeScan:   similarity kernels + plans.similarity_scan
- GeneAnnotate: sources.genbank + plans.location + asof/overlap joins
- CurateBatch:  operators.dedup (exact, MinHash-LSH, repetition, decon)
- CurateStream: streaming.events ingest (gates, parquet sink, checkpoint)

A job generates its inputs from the seed (``generate``, pure numpy), loads
them into Spark or onto disk (``load``), then serves ops: ``op(i)`` is
request ``i % n_requests`` and ends in an action; ``check`` validates its
result outside the timed window; ``finish`` runs the once-per-run checks.
``traced_op`` runs the same request split at layer boundaries — each
layer's input cached and counted first — inside named spans.

A workload (``WORKLOADS``) holds two jobs whose ops are sent in turn:
every run starts a Spark session, which costs 30-40 s to start and warm,
and the benchmark's time budget has room for that in two workloads'
runs, not four.
"""

from __future__ import annotations

import inspect
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.harness import dir_bytes, exchange_counts


def _default(fn, name: str):
    """An engine function's own default, so the layer split below runs
    exactly what the composed call runs."""
    return inspect.signature(fn).parameters[name].default


def _materialize(df, held=None):
    """Cache and count ``df``; ``held`` collects it for a later unpersist."""
    df = df.cache()
    if held is not None:
        held.append(df)
    return df, df.count()


def _release(held) -> None:
    for df in held:
        df.unpersist()


def _frame(spark, rows, cols):
    """Local rows -> an in-driver DataFrame through Arrow (no Spark job)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


class Job:
    name = ""
    n_requests = 1
    counts_items = True   # whether the job's items count in its workload's items

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.inputs = None

    def generate(self) -> str:
        """Build the inputs from the seed; returns the input-set hash."""
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed per-op staging (new arrivals for the stream)."""

    def build(self, i: int) -> dict:
        """The op's result DataFrames, planned but not run."""
        raise NotImplementedError

    def execute(self, dfs: dict):
        """Collect every result; returns what ``check`` validates."""
        return {k: [tuple(r) for r in df.collect()] for k, df in dfs.items()}

    def op(self, i: int):
        return self.execute(self.build(i))

    def items(self, i: int) -> int:
        raise NotImplementedError

    def check(self, i: int, result) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []

    def layers(self, i: int, spans) -> dict[str, float]:
        """Layer-split run of request ``i``; returns per-layer counts."""
        raise NotImplementedError

    def traced_op(self, i: int, spans) -> tuple[object, dict[str, float]]:
        """Layer spans, then the composed op under ``plans.plan`` /
        ``plans.run`` spans so exchange counts come from its AQE-final
        plan."""
        counts = self.layers(i, spans)
        with spans.span("plans.plan"):
            dfs = self.build(i)
            for df in dfs.values():
                df._jdf.queryExecution().executedPlan()
        with spans.span("plans.run"):
            result = self.execute(dfs)
        ex = [exchange_counts(df) for df in dfs.values()]
        counts["plans.exchanges"] = sum(e for e, _ in ex)
        counts["plans.reused_exchanges"] = sum(r for _, r in ex)
        return result, counts


# --------------------------------------------------------------------------

SCAN_WEIGHTS = {"direct": 1.0, "consistency": 1.0, "text_edit": 1.0, "pattern": 1.0}
# the reference pipeline's pattern conditions (bench.py flagship_scan_1mbp_full)
SCAN_PATTERN = {
    "must": [{"offset": 0, "length": 4}, {"offset": -4, "length": 4}],
    "optional": [{"offset": 4, "length": 1}, {"offset": -5, "length": 1}],
}
SCAN_ARGS = dict(top_k=20, candidate_distance=5, patience=2,
                 continuous_mismatch_limit=10, pattern_conditions=SCAN_PATTERN,
                 score_floor=8.0)


class GenomeScan(Job):
    """similarity_scan of one request (two query genes) over a cached
    multi-accession genome, full scorer mix, engine-default chunk size."""

    name = "genome_scan"
    n_requests = 4
    N_ACC, ACC_LEN, QUERY_LENS = 2, 40_000, (24, 32)

    def generate(self) -> str:
        self.inputs = gen.scan_inputs(self.seed, self.N_ACC, self.ACC_LEN,
                                      self.n_requests, self.QUERY_LENS)
        return self.inputs.hash()

    def load(self) -> None:
        self.genome_df, _ = _materialize(_frame(
            self.spark, self.inputs.genome, ["accession", "seq"]))
        self.queries = [_frame(self.spark, q, ["name", "gene"]) for q in self.inputs.requests]

    def build(self, i: int) -> dict:
        from ncbi_analysis_spark.plans.similarity_scan import similarity_scan

        q = self.queries[i % self.n_requests]
        return {"scan": similarity_scan(self.genome_df, q, SCAN_WEIGHTS, **SCAN_ARGS)
                .select("name", "accession", "strand", "start", "end")}

    def items(self, i: int) -> int:
        return self.inputs.items_per_op()

    def check(self, i: int, result) -> list[str]:
        return gen.check_scan(result["scan"], self.inputs.planted[i % self.n_requests])

    def layers(self, i: int, spans) -> dict[str, float]:
        from ncbi_analysis_spark.operators.suppression import local_max_suppress
        from ncbi_analysis_spark.operators.topk import topk_per_group
        from ncbi_analysis_spark.plans import similarity_scan as ss

        q = self.queries[i % self.n_requests]
        chunk = _default(ss.similarity_scan, "chunk_size")
        radius = SCAN_ARGS["candidate_distance"] - 1
        overlap = max(self.QUERY_LENS) - 1
        width = max(self.spark.sparkContext.defaultParallelism,
                    int(self.spark.conf.get("spark.sql.shuffle.partitions")))
        held: list = []
        with spans.span("plans.chunk"):
            chunks, n_chunks = _materialize(
                ss.chunk_genome(self.genome_df, chunk, overlap, halo=radius)
                .repartition(width).withColumn("chunk_size_", F.lit(chunk)), held)
        with spans.span("similarity.score"):
            cands, n_cands = _materialize(ss.scan_candidates(
                chunks, q, SCAN_WEIGHTS, SCAN_ARGS["patience"],
                SCAN_ARGS["continuous_mismatch_limit"], SCAN_PATTERN, None,
                SCAN_ARGS["score_floor"], suppress_distance=radius), held)
        with spans.span("operators.suppress_topk"):
            sup = local_max_suppress(cands, ["name", "accession", "strand"], "offset",
                                     F.col("weighted_similarity"), radius)
            top = topk_per_group(sup, ["name"], [F.desc("weighted_similarity"),
                                                 F.asc("accession"), F.asc("strand"),
                                                 F.asc("offset")],
                                 SCAN_ARGS["top_k"], rank_col="rk")
            top.write.format("noop").mode("overwrite").save()
        _release(held)
        offsets = self.inputs.items_per_op()
        return {"plans.chunks_out": n_chunks, "similarity.offsets_scored": offsets,
                "similarity.candidates_out": n_cands,
                "similarity.candidate_ratio": n_cands / offsets}


# --------------------------------------------------------------------------

class GeneAnnotate(Job):
    """Parse GenBank files, then locate_matches(on=accession),
    neighbor_analysis and source_distribution over one match batch."""

    name = "gene_annotate"
    n_requests = 4
    counts_items = False  # the genomics item is an offset scored
    N_ACC, N_GENES, MATCHES_PER_ACC = 2, 4_500, 100

    def generate(self) -> str:
        self.inputs = gen.annotate_inputs(self.seed, self.N_ACC, self.N_GENES,
                                          self.n_requests, self.MATCHES_PER_ACC)
        self.texts = [gen.genbank_text(g) for g in self.inputs.genomes]
        return self.inputs.hash()

    def load(self) -> None:
        d = os.path.join(self.work, "genbank")
        os.makedirs(d, exist_ok=True)
        for g, text in zip(self.inputs.genomes, self.texts):
            with open(os.path.join(d, f"{g.accession}.gb"), "w") as f:
                f.write(text)
        self.gb_path = os.path.join(d, "*.gb")
        self.gb_bytes = sum(len(t) for t in self.texts)
        self.matches = [_frame(self.spark, batch, ["accession", "match_id", "start", "end"])
                        for batch in self.inputs.requests]

    @staticmethod
    def _inter_records(genes):
        fwd = F.col("strand") == "+"
        return genes.select(
            "accession", F.col("gene").alias("name"),
            F.when(fwd, ">").otherwise("<").alias("direction"), "left", "right",
            F.when(fwd, F.col("left")).otherwise(F.col("right")).alias("start"))

    @staticmethod
    def _neighbor_probe(m):
        return m.select("accession", "match_id", F.least("start", "end").alias("left"),
                        F.greatest("start", "end").alias("right"))

    def _parse(self):
        from ncbi_analysis_spark.sources.genbank import read_genbank_genes, read_genbank_genome

        return (read_genbank_genes(self.spark, self.gb_path),
                read_genbank_genome(self.spark, self.gb_path))

    def _plan(self, i, genes, genome) -> dict:
        from ncbi_analysis_spark.plans.location import locate_matches
        from ncbi_analysis_spark.plans.pipelines import neighbor_analysis, source_distribution

        m = self.matches[i % self.n_requests]
        located = locate_matches(m, self._inter_records(genes), on=["accession"])
        # the organism source rides on the probe rows: neighbor_analysis
        # returns a NULL accession for matches that overlap no gene, so a
        # join on its output would lose them
        probe = self._neighbor_probe(m).join(genome.select("accession", "source"), "accession")
        nb = neighbor_analysis(probe, genes)
        return {
            "located": located.select("match_id", "rec_name", "label"),
            "neighbors": nb.select("match_id", "left", "right", "left_gene",
                                   "right_gene", "overlap_genes"),
            "sources": source_distribution(nb).select("source_prefix", "cnt"),
        }

    def build(self, i: int) -> dict:
        """Parsed tables are cached for the op's three actions."""
        genes, genome = self._parse()
        self._cached = (genes.cache(), genome.cache())
        return self._plan(i, *self._cached)

    def execute(self, dfs: dict):
        try:
            return super().execute(dfs)
        finally:
            _release(self._cached)

    def items(self, i: int) -> int:
        return self.inputs.items_per_op()

    def check(self, i: int, result) -> list[str]:
        located, neighbors, sources = result["located"], result["neighbors"], result["sources"]
        want_loc, want_nb, want_src = gen.annotate_model(self.inputs, i % self.n_requests)
        errors = []
        if set(located) != want_loc or len(located) != len(want_loc):
            errors.append(f"locate_matches: {len(set(located) ^ want_loc)} rows differ "
                          "from the bisect model")
        got_nb = {m: (lg, rg, og) for m, _, _, lg, rg, og in neighbors}
        if got_nb != want_nb or len(neighbors) != len(want_nb):
            bad = sum(got_nb.get(k) != v for k, v in want_nb.items())
            errors.append(f"neighbor_analysis: {bad} matches differ from the bisect model")
        if dict(sources) != want_src:
            errors.append(f"source_distribution {dict(sources)} != {want_src}")
        return errors

    def layers(self, i: int, spans) -> dict[str, float]:
        from ncbi_analysis_spark.operators.asof import nearest_neighbors
        from ncbi_analysis_spark.operators.intervals import interval_join_broadcast
        from ncbi_analysis_spark.plans.location import locate_matches

        m = self.matches[i % self.n_requests]
        held: list = []
        with spans.span("sources.genbank_parse") as sp:
            genes_df, genome_df = self._parse()
            genes, n_genes = _materialize(genes_df, held)
            _materialize(genome_df, held)
        parse_s = sp["end"] - sp["start"]
        with spans.span("plans.locate"):
            _materialize(locate_matches(m, self._inter_records(genes), on=["accession"]), held)
        probe = self._neighbor_probe(m)
        with spans.span("operators.asof"):
            _materialize(nearest_neighbors(probe, genes, ["accession"]), held)
        with spans.span("operators.overlap_join"):
            _, n_pairs = _materialize(interval_join_broadcast(
                probe.select("accession", F.col("left").alias("m_left"),
                             F.col("right").alias("m_right")),
                genes.select(F.col("accession").alias("g_acc"),
                             F.col("left").alias("g_left"), F.col("right").alias("g_right")),
                "m_left", "m_right", "g_left", "g_right",
                extra_cond=F.col("accession") == F.col("g_acc")), held)
        _release(held)
        tested = self.inputs.pairs_tested()
        return {"sources.genes_out": n_genes,
                "sources.genbank_bytes_per_s": self.gb_bytes / parse_s,
                "operators.overlap_pairs_tested": tested,
                "operators.overlap_pairs_out": n_pairs,
                "operators.overlap_useful_frac": n_pairs / tested}


# --------------------------------------------------------------------------

class CurateBatch(Job):
    """curate_corpus over a seeded corpus; doc_id % 97 == 0 is the held-out
    benchmark split, so CURATION_SQL on DuckDB is the oracle unchanged."""

    name = "curate_batch"
    n_requests = 2
    N_DOCS = 600

    def generate(self) -> str:
        self.inputs = [gen.batch_corpus(self.seed, r, self.N_DOCS)
                       for r in range(self.n_requests)]
        return gen.digest([c.hash() for c in self.inputs])

    def load(self) -> None:
        import duckdb

        from ncbi_analysis_spark.plans.driver_queries import CURATION_SQL

        self.paths, self.oracle = [], []
        for r, corpus in enumerate(self.inputs):
            table = pa.table({"doc_id": pa.array([d for d, _ in corpus.docs], pa.int64()),
                              "text": pa.array([t for _, t in corpus.docs], pa.string())})
            path = os.path.join(self.work, f"corpus{r}.parquet")
            pq.write_table(table, path)
            self.paths.append(path)
            con = duckdb.connect()
            try:
                con.register("documents", table)
                self.oracle.append(_rows_hash(con.execute(CURATION_SQL).fetchall()))
            finally:
                con.close()

    def _docs(self, i):
        docs = self.spark.read.parquet(self.paths[i % self.n_requests])
        return docs.filter(F.col("doc_id") % 97 != 0), docs.filter(F.col("doc_id") % 97 == 0)

    def build(self, i: int) -> dict:
        from ncbi_analysis_spark.plans.curation import curate_corpus

        return {"curated": curate_corpus(*self._docs(i))}

    def items(self, i: int) -> int:
        return self.N_DOCS

    def check(self, i: int, result) -> list[str]:
        got, want = _rows_hash(result["curated"]), self.oracle[i % self.n_requests]
        return [] if got == want else [f"curate_corpus hash {got} != DuckDB {want}"]

    def layers(self, i: int, spans) -> dict[str, float]:
        from ncbi_analysis_spark.operators import dedup as dd
        from ncbi_analysis_spark.plans.curation import curate_corpus

        held: list = []
        corpus, bench = (_materialize(df, held)[0] for df in self._docs(i))
        with spans.span("operators.exact_dedup"):
            ex, _ = _materialize(dd.exact_dedup(corpus, "text", "doc_id"), held)
        with spans.span("operators.lsh_pairs"):
            pairs, n_pairs = _materialize(dd.minhash_lsh_pairs(
                ex, "text", "doc_id", _default(curate_corpus, "num_perm"),
                _default(curate_corpus, "bands"), _default(curate_corpus, "shingle_n")), held)
        with spans.span("operators.repetition"):
            _materialize(dd.repetition_signals(ex, "text", "doc_id"), held)
        with spans.span("operators.decon"):
            _materialize(dd.benchmark_ngram_overlap(ex, bench, "text", "doc_id",
                                                    _default(curate_corpus, "decon_n")), held)
        planted = self.inputs[i % self.n_requests].near_dup_pairs
        found = sum((a, b) in planted for a, b in pairs.collect())
        _release(held)
        return {"operators.lsh_pairs_out": n_pairs,
                "operators.lsh_true_dup_frac": found / n_pairs if n_pairs else 0.0}


def _rows_hash(rows) -> str:
    """Order-insensitive hash of result rows."""
    return gen.digest(sorted(tuple(r) for r in rows))


# --------------------------------------------------------------------------

class CurateStream(Job):
    """One run_curation_job (availableNow) per op over a fresh batch of
    arriving parquet files; one checkpoint for the whole run."""

    name = "curate_stream"
    n_requests = 4
    FILES, DOCS_PER_FILE = 4, 50
    SCHEMA = "doc_id long, text string"

    def generate(self) -> str:
        self.inputs = gen.stream_inputs(self.seed, self.n_requests, self.FILES,
                                        self.DOCS_PER_FILE)
        return self.inputs.hash()

    def load(self) -> None:
        """The quality model is fit with the engine's Spark-free trainer
        (bit-identical to quality_classifier_weights, without a Spark job
        in set-up): clean docs are the target class, junk the rest."""
        from ncbi_analysis_spark.operators.terms import quality_classifier_local
        from ncbi_analysis_spark.streaming.events import curation_stream

        self.src, self.out, self.ck, self.stage = (
            os.path.join(self.work, d) for d in ("stream_src", "stream_out", "stream_ck",
                                                 "stream_stage"))
        for d in (self.src, self.stage):
            os.makedirs(d, exist_ok=True)
        train = os.path.join(self.stage, "train.parquet")
        docs = self.inputs.good + self.inputs.junk
        pq.write_table(pa.table({"text": [t for _, t in docs],
                                 "target": [k < len(self.inputs.good)
                                            for k in range(len(docs))]}), train)
        w, self.bias = quality_classifier_local(
            train, target_pred=lambda r: r["target"],
            n_buckets=_default(curation_stream, "n_buckets"),
            ngram_max=_default(curation_stream, "ngram_max"))
        os.remove(train)
        self.weights = _frame(self.spark, w, ["bucket", "w"])
        self.bench_df = _frame(self.spark, self.inputs.bench, ["bench_id", "text"])
        self.in_bytes: dict[int, int] = {}

    def prepare(self, i: int) -> None:
        """Files arrive atomically (written aside, then renamed in)."""
        n = 0
        for j, docs in enumerate(self.inputs.requests[i % self.n_requests]):
            base = (i + 1) * 1_000_000 + j * self.DOCS_PER_FILE
            table = pa.table({"doc_id": pa.array(range(base, base + len(docs)), pa.int64()),
                              "text": pa.array(docs, pa.string())})
            tmp = os.path.join(self.stage, f"op{i:05d}_f{j}.parquet")
            pq.write_table(table, tmp)
            n += os.path.getsize(tmp)
            os.rename(tmp, os.path.join(self.src, os.path.basename(tmp)))
        self.in_bytes[i] = n

    def _job(self):
        from ncbi_analysis_spark.streaming.events import run_curation_job

        run_curation_job(self.spark, self.src, self.SCHEMA, self.bench_df, self.weights,
                         self.bias, self.out, self.ck, timeout_s=120)

    def op(self, i: int):
        self._job()

    def items(self, i: int) -> int:
        return self.FILES * self.DOCS_PER_FILE

    def sink_ids(self) -> list[int]:
        return sorted(r[0] for r in self.spark.read.parquet(self.out).select("doc_id").collect())

    def finish(self) -> list[str]:
        """A re-run on the same checkpoint commits nothing, and the stream's
        output ids equal curation_stream run in batch over the same files."""
        from ncbi_analysis_spark.streaming.events import curation_stream

        commits = os.path.join(self.ck, "commits")
        before = (sorted(os.listdir(commits)), self.spark.read.parquet(self.out).count())
        self._job()
        after = (sorted(os.listdir(commits)), self.spark.read.parquet(self.out).count())
        errors = [] if before == after else ["re-run on the same checkpoint committed again"]
        static = self.spark.read.schema(self.SCHEMA).parquet(self.src)
        want = sorted(r[0] for r in curation_stream(
            static, self.bench_df, self.weights, self.bias).select("doc_id").collect())
        got = self.sink_ids()
        if got != want:
            errors.append(f"stream kept {len(got)} docs, batch curation_stream kept {len(want)}")
        return errors

    def traced_op(self, i: int, spans) -> tuple[object, dict[str, float]]:
        from ncbi_analysis_spark.streaming.events import curation_stream

        names = [f"op{i:05d}_f{j}.parquet" for j in range(self.FILES)]
        held: list = []
        batch, rows_in = _materialize(self.spark.read.schema(self.SCHEMA).parquet(
            *[os.path.join(self.src, n) for n in names]), held)
        with spans.span("streaming.gates"):
            _, rows_out = _materialize(curation_stream(batch, self.bench_df, self.weights,
                                                       self.bias), held)
        _release(held)
        out0, ck0 = dir_bytes(self.out), dir_bytes(self.ck)
        self.listener.events.clear()
        with spans.span("streaming.job"):
            self._job()
        out1, ck1 = dir_bytes(self.out), dir_bytes(self.ck)
        progress = self.listener.wait_progress()
        return None, {
            "streaming.rows_in": rows_in, "streaming.rows_out": rows_out,
            "streaming.bytes_written": out1 - out0, "streaming.checkpoint_bytes": ck1,
            "streaming.write_amp": (out1 - out0 + ck1 - ck0) / self.in_bytes[i],
            "streaming.add_batch_ms": progress.get("addBatch", 0),
            "streaming.wal_commit_ms": progress.get("walCommit", 0),
        }

    def attach_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class Progress(StreamingQueryListener):
            """Keeps the durationMs of batches that ingested rows."""

            def __init__(self):
                self.events: list[dict] = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if event.progress.numInputRows > 0:
                    self.events.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

            def wait_progress(self, timeout_s: float = 5.0) -> dict:
                deadline = time.monotonic() + timeout_s
                while not self.events and time.monotonic() < deadline:
                    time.sleep(0.05)
                return self.events[-1] if self.events else {}

        self.listener = Progress()
        self.spark.streams.addListener(self.listener)


class Workload:
    """A workload's jobs and their once-per-run steps; the runner sends
    the jobs' ops in turn, a round being one op of every job."""

    def __init__(self, jobs: list[Job]):
        self.jobs = jobs

    def generate(self) -> str:
        return gen.digest([j.generate() for j in self.jobs])

    def load(self) -> None:
        for j in self.jobs:
            j.load()

    def finish(self) -> list[str]:
        return [f"{j.name}: {e}" for j in self.jobs for e in j.finish()]

    def attach_listener(self) -> None:
        for j in self.jobs:
            if hasattr(j, "attach_listener"):
                j.attach_listener()


# name -> jobs, each built as job(spark, seed, work)
WORKLOADS = {
    "genomics": (GenomeScan, GeneAnnotate),
    "curation": (CurateBatch, CurateStream),
}


def make(name: str, spark, seed: int, work: str) -> Workload:
    return Workload([job(spark, seed, work) for job in WORKLOADS[name]])
