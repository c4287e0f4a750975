"""The three workloads. Each one sets up inside one Spark session,
repeats its operations for the measured window, checks the engine's
outputs against references computed outside the engine, and reports
end-to-end samples plus the spans of a traced run.

Operation kinds shared by every workload, so every workload reports the
same end-to-end metrics:

- a *write* makes data durable: one core gold build (``kg_build``) or
  one micro-batch commit (``text_ingest``, ``vector_ingest``);
- a *read* answers from what was written: the gold read-back and schema
  check, or one top-k probe.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np

from crossbench import checks, gen
from crossbench.checks import expect
from crossbench.harness import Harness


@dataclass
class Result:
    setup_s: float = 0.0
    write_s: list[float] = field(default_factory=list)
    # read walls by the state they read: the gold of each measured build
    # (kg_build), or the fragmented and the compacted layout (ingest)
    reads: dict[str, list[float]] = field(default_factory=dict)
    rows_offered: int = 0
    busy_s: float = 0.0  # write plus compaction wall time
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)  # counters


class Workload:
    name = ""
    # minimum writes in the measured window, whatever --seconds says;
    # on a 4-core machine it governs, so every run does the same work
    min_writes = 3
    reads_per_write = 1
    read_state = ""  # what the next read reads; keys Result.reads

    def __init__(self, h: Harness, root: str, seed: int, seconds: float, small: bool):
        self.h, self.root, self.seed, self.seconds = h, root, seed, seconds
        self.small = small  # tiny inputs, for the smoke tests
        self.tr = h.tracer
        self.res = Result()
        self.con = duckdb.connect()

    def run(self) -> Result:
        t0 = time.perf_counter()
        with self.tr.span("setup"):
            self.setup()
        self.h.check_single_jvm("end of set-up")
        self.res.setup_s = time.perf_counter() - t0
        t_measure = time.perf_counter()
        with self.tr.span("measure"):
            self.measure(t_measure)
        self.finish()
        self.con.close()
        return self.res

    def elapsed(self, since: float) -> float:
        return time.perf_counter() - since

    def op(self, fn, kind: str) -> None:
        """One attempted operation of ``kind`` write, read or compact,
        timed into the result; a warmup or check operation runs but is
        not timed.
        A failure is counted and re-raised: later
        operations would run on a state the workload can no longer vouch
        for."""
        res = self.res
        res.attempted += 1
        t = time.perf_counter()
        try:
            fn()
        except Exception:
            res.failed += 1
            raise
        wall = time.perf_counter() - t
        if kind == "read":
            res.reads.setdefault(self.read_state, []).append(wall)
            return
        if kind in ("warmup", "check"):
            return
        res.busy_s += wall
        if kind == "write":
            res.write_s.append(wall)
        self.h.mark_memory()

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self, t0: float) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Final output checks; raise CheckFailed on a mismatch."""


# ------------------------------------------------------------------ KG
class KgBuild(Workload):
    """Warm, repeated core gold build: protein nodes, the three-source
    PPI merge, the six-source DTI merge and the eight-source
    gene–disease merge, each conformed to the gold schema registry,
    written, read back and schema-checked."""

    name = "kg_build"
    SCALE = 1.0
    # the first build in a fresh JVM takes about twice as long as the
    # later ones (JIT, code generation); the first measured build is
    # still 1-3 s slower than the second, but a second warm-up build
    # does not fit the gate's time budget
    WARMUP_BUILDS = 1
    WARMUP_READS = 1
    # a build is ~8 s of job floor on 4 cores; two measured builds are
    # what the gate's time budget leaves room for
    min_writes = 2
    # a read-back is short (~0.8 s), varies by ±15 % within a run, and
    # the reads after the second build are ~15 % faster than after the
    # first (the JVM is still warming up). A median over both builds
    # falls between the two groups; so each build's reads get their own
    # median, of three
    reads_per_write = 3

    def open(self) -> None:
        """Session, generator and schema registry; no inputs yet."""
        from crossbar_data_process_spark.schema.registry import SchemaRegistry

        self.scale = 0.05 if self.small else self.SCALE
        with self.tr.span("session.start"):
            self.spark = self.h.start_session(
                self.name, input_bytes=int(8e6 * self.scale)
            )
        self.kb = gen.load_kg_build(self.root)
        self.registry = SchemaRegistry.from_yaml(
            os.path.join(
                self.root, "crossbar_data_process_spark", "schema",
                "kg_gold_schema.yaml",
            )
        )
        self.gold = self.h.path("gold")

    def setup(self) -> None:
        self.open()
        self.src = gen.kg_sources(self.spark, self.kb, self.scale, self.seed)
        self.digests: dict[str, list] | None = None
        for _ in range(0 if self.small else self.WARMUP_BUILDS):
            self.build()
            for _ in range(self.WARMUP_READS):
                self.read_back()
        self.h.mark_memory()

    def plan(self, name: str):
        from pyspark.sql import functions as F

        from crossbar_data_process_spark.operators.dedup import keep_best
        from crossbar_data_process_spark.plans import (
            dti, gene_disease, ppi, uniprot,
        )

        src = self.src
        if name == "protein_nodes":
            wide = uniprot.cast_typed_columns(
                uniprot.assemble_nodes(
                    {
                        "length": src["up_length"],
                        "mass": src["up_mass"],
                        "organism": src["up_organism"],
                    }
                )
            )
            xrefs = uniprot.process_xrefs(src["up_xrefs"], "kegg")
            ens = uniprot.process_ensembl(src["up_ensembl"], src["enst_map"])
            return wide.join(xrefs, "accession", "left").join(
                ens, "accession", "left"
            )
        if name == "ppi_edges":
            ia = ppi.intact_process(src["intact"], src["swissprot"])
            bg = ppi.biogrid_process(
                src["biogrid"], src["symbol_map"], src["swissprot"]
            )
            st = ppi.string_process(
                src["string"], src["string_map"], src["swissprot"]
            )
            bg1 = keep_best(bg, ["uniprot_a", "uniprot_b"], [F.asc("method")])
            return ppi.merge_all(ia, bg1, st)
        if name == "dti_edges":
            return dti.merge_all_dtis(
                {s: src[f"dti_{s}"] for s in gen.DTI_SOURCES}
            )
        if name == "gda_edges":
            return gene_disease.merge_gene_disease(
                {s: src[f"gda_{s}"] for s in gen.GDA_SOURCES}
            )
        raise ValueError(name)

    def build(self) -> None:
        tr = self.tr
        with tr.span("kg.build"):
            for name in gen.KG_TABLES:
                with tr.span(f"kg.table.{name}"):
                    with tr.span("kg.plans"):
                        df = self.plan(name)
                    with tr.span("kg.schema.conform"):
                        out = self.registry.conform(
                            self.kb.to_gold_shape(name, df), name
                        )
                    with tr.span("kg.write"):
                        out.write.mode("overwrite").parquet(
                            os.path.join(self.gold, name)
                        )

    def read_back(self) -> None:
        tr = self.tr
        rows = 0
        with tr.span("kg.read"):
            for name in gen.KG_TABLES:
                with tr.span("kg.readback"):
                    gold = self.spark.read.parquet(os.path.join(self.gold, name))
                    rows += gold.count()
                with tr.span("kg.schema.validate"):
                    want = self.registry.struct_type(name)
                    got = [(f.name, f.dataType.simpleString()) for f in gold.schema]
                    expect(
                        got == [(f.name, f.dataType.simpleString()) for f in want],
                        f"{name}: read-back schema {got} differs from the registry",
                    )
        self.rows = rows

    def digest(self) -> dict[str, list]:
        """table → [row count, content hash], computed by DuckDB."""
        return {
            name: list(
                checks.table_digest(self.con, os.path.join(self.gold, name))
            )
            for name in gen.KG_TABLES
        }

    def check_build(self) -> None:
        """Every build writes the same gold: per-table row counts and
        content hashes repeat across the run's builds and, for the seeds
        listed in kg_reference.json, match the reference."""
        digests = self.digest()
        for name, (n, _h) in digests.items():
            expect(n > 0, f"{name}: empty gold table")
        if self.digests is None:
            self.digests = digests
            ref = kg_reference().get(str(self.seed))
            if ref is not None and not self.small:
                expect(
                    ref == digests,
                    f"gold {digests} differs from the reference {ref} "
                    f"for seed {self.seed}",
                )
        expect(digests == self.digests, "gold differs between builds")

    def measure(self, t0: float) -> None:
        while len(self.res.write_s) < self.min_writes or self.elapsed(t0) < self.seconds:
            self.op(self.build, "write")
            self.read_state = f"build {len(self.res.write_s)}"
            for _ in range(self.reads_per_write):
                self.op(self.read_back, "read")
            self.check_build()
            self.res.rows_offered += self.rows


KG_REFERENCE = os.path.join(os.path.dirname(__file__), "kg_reference.json")


def kg_reference() -> dict:
    """seed → table → [row count, content hash] of the core gold build at
    ``KgBuild.SCALE`` (written by make_reference.py)."""
    import json

    with open(KG_REFERENCE, encoding="utf-8") as f:
        return json.load(f)["seeds"]


class TextService:
    """The text side of the ingest service: micro-batches of documents
    through the incremental dedup sink into gold, the landed survivors
    into the BM25 index, and BM25 top-k probes against the index."""

    SEED_DOCS = 1000
    BATCH_DOCS = 500
    QUERIES = 8

    def __init__(self, h: Harness, seed: int, small: bool):
        self.h, self.tr = h, h.tracer
        self.gen = gen.TextGen(seed)
        self.n_seed = 100 if small else self.SEED_DOCS
        self.batch_docs = 60 if small else self.BATCH_DOCS
        self.batch_id = 0
        self.offered_total = 0
        self.expected_landed = 0
        self.last_probe: dict | None = None

    def setup(self, spark) -> None:
        from crossbar_data_process_spark.streaming.ingest import (
            dedup_ingest_writer,
            seed_dedup_index,
        )

        h = self.h
        self.spark = spark
        self.idx, self.golddir, self.bm25 = (
            h.path("text_index"), h.path("text_gold"), h.path("bm25")
        )
        corpus = spark.createDataFrame(
            self.gen.seed_corpus(self.n_seed), "doc_id long, text string"
        )
        with self.tr.span("ti.seed"):
            seed_dedup_index(corpus, self.idx)
        self.sink = dedup_ingest_writer(spark, self.idx, self.golddir)
        self.query_rows = self.gen.queries(self.QUERIES)
        self.queries = spark.createDataFrame(
            self.query_rows, "query_id long, query_text string"
        )

    def next_batch(self) -> int:
        rows, n_fresh = self.gen.batch(self.batch_docs)
        self.batch = self.spark.createDataFrame(rows, "doc_id long, text string")
        self.expected_landed += n_fresh
        self.offered_total += len(rows)
        return len(rows)

    def commit(self) -> None:
        from crossbar_data_process_spark.operators.retrieval import (
            bm25_index_ingest,
        )

        tr, b = self.tr, self.batch_id
        with tr.span("ti.commit"):
            with tr.span("ti.text_sink"):
                self.sink(self.batch, b)
            with tr.span("ti.bm25_ingest"):
                landed = self.spark.read.parquet(
                    f"{self.golddir}/__batch_id={b}"
                ).select("doc_id", "text")
                bm25_index_ingest(landed, self.bm25, str(b))
        self.batch_id += 1

    def probe(self) -> None:
        from crossbar_data_process_spark.operators.retrieval import (
            bm25_topk_indexed,
        )

        tr = self.tr
        with tr.span("ti.probe"):
            with tr.span("ti.probe_plan"):
                df = bm25_topk_indexed(self.spark, self.bm25, self.queries)
            with tr.span("ti.probe_exec"):
                rows = df.collect()
        self.last_probe = ranking(rows, "query_id", "doc_id", "score")

    def read(self) -> None:
        """The timed read of the text service is a probe."""
        self.probe()
        self.last_read = self.last_probe

    def compact(self) -> None:
        """Fold every batch but the last committed one (the engine's
        precondition) in gold and the dedup index; fold the BM25 index."""
        from crossbar_data_process_spark.operators.retrieval import (
            compact_bm25_index,
        )
        from crossbar_data_process_spark.streaming.ingest import (
            compact_dedup_index,
            compact_gold,
        )

        tr, last = self.tr, self.batch_id - 1
        with tr.span("ti.compact"):
            with tr.span("ti.compact.gold"):
                compact_gold(self.spark, self.golddir, before_batch=last)
            with tr.span("ti.compact.dedup_index"):
                compact_dedup_index(self.spark, self.idx, before_batch=last)
            with tr.span("ti.compact.bm25"):
                compact_bm25_index(self.spark, self.bm25)

    def silver_files(self) -> int:
        return sum(
            checks.parquet_files(d) for d in (self.golddir, self.idx, self.bm25)
        )

    def check(self, con) -> float:
        """Gold doc ids are unique, exactly the planted fresh docs landed,
        and the last probe equals brute-force BM25 over the landed gold.
        Returns landed / offered."""
        gold_ids = checks.column_values(con, self.golddir, "doc_id")
        expect(len(gold_ids) == len(set(gold_ids)), "duplicate doc_id in gold")
        expect(
            len(gold_ids) == self.expected_landed,
            f"{len(gold_ids)} docs landed, the planted mix implies "
            f"{self.expected_landed}",
        )
        texts = dict(
            con.sql(
                f"SELECT doc_id, text FROM read_parquet("
                f"'{self.golddir}/**/*.parquet', hive_partitioning = false)"
            ).fetchall()
        )
        want = checks.bm25_reference(texts, self.query_rows)
        diff = checks.same_ranking(self.last_probe, want, tol=2e-6)
        expect(diff is None, f"last BM25 probe differs from brute force: {diff}")
        return len(gold_ids) / self.offered_total


class VectorService:
    """The embedding side of the ingest service: batches of 32-d vectors
    with planted exact and near copies through the IVF semantic-dedup
    sink (arrow assignment and pair backends), and IVF top-k probes of
    the assigned silver."""

    DIM = 32
    NLIST = 16
    FIT_ROWS = 4000
    BATCH_ROWS = 20_000
    QUERIES = 16
    K, NPROBE = 10, 4
    THRESHOLD = 0.95

    def __init__(self, h: Harness, seed: int, small: bool):
        self.h, self.tr = h, h.tracer
        self.gen = gen.VectorGen(seed, self.DIM)
        self.fit_rows = 400 if small else self.FIT_ROWS
        self.batch_rows = 300 if small else self.BATCH_ROWS
        self.batch_id = 0
        self.offered_total = 0
        self.expected: list[int] = []
        self.last_probe: dict | None = None

    def setup(self, spark) -> None:
        from crossbar_data_process_spark.operators.ivf import ivf_fit
        from crossbar_data_process_spark.streaming.ann_ingest import (
            ivf_ingest_writer,
        )

        self.spark = spark
        fit = self.gen.fresh(self.fit_rows)
        with self.tr.span("vi.fit"):
            self.cents = ivf_fit(
                self.frame(list(range(-len(fit), 0)), fit),
                dim=self.DIM, nlist=self.NLIST, iters=2, driver_fit_rows=2048,
                n_rows=len(fit),
            )
        self.gen.set_centroids(self.cents)
        self.silver = self.h.path("ivf_silver")
        self.sink = ivf_ingest_writer(
            spark, self.cents, self.silver,
            dedup_threshold=self.THRESHOLD,
            assign_backend="arrow", pair_backend="arrow",
        )
        self.qvecs = self.gen.fresh(self.QUERIES)
        self.qids = [10**9 + i for i in range(self.QUERIES)]
        self.queries = self.frame(self.qids, self.qvecs)

    def frame(self, ids: list[int], vecs: np.ndarray):
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
        return self.spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>"
        )

    def next_batch(self) -> int:
        ids, vecs, n_fresh = self.gen.batch(self.batch_rows)
        self.expected += ids[:n_fresh]
        self.batch = self.frame(ids, vecs)
        self.offered_total += len(ids)
        return len(ids)

    def commit(self) -> None:
        with self.tr.span("vi.sink"):
            self.sink(self.batch, self.batch_id)
        self.batch_id += 1

    def probe(self) -> None:
        from crossbar_data_process_spark.operators.ivf import ivf_topk_assigned

        tr = self.tr
        with tr.span("vi.probe"):
            with tr.span("vi.probe_plan"):
                df = ivf_topk_assigned(
                    self.spark, self.silver, self.queries, self.cents,
                    k=self.K, nprobe=self.NPROBE,
                )
            with tr.span("vi.probe_exec"):
                rows = df.collect()
        self.last_probe = ranking(rows, "query_id", "neighbor_id", "cosine")

    def read(self) -> None:
        """Rows per IVF list of the landed silver, through the engine's
        exactly-once silver reader: the scan every consumer of the silver
        starts from, and what the silver's layout (files per list)
        decides."""
        from crossbar_data_process_spark.streaming.ann_ingest import (
            read_assigned_silver,
        )

        with self.tr.span("vi.read_back"):
            rows = (
                read_assigned_silver(self.spark, self.silver)
                .groupBy("cluster").count().collect()
            )
        self.last_read = sorted((r["cluster"], r["count"]) for r in rows)

    def compact(self) -> None:
        """Fold every batch but the last committed one (the engine's
        precondition)."""
        from crossbar_data_process_spark.streaming.ann_ingest import (
            compact_ivf_silver,
        )

        with self.tr.span("vi.compact"):
            compact_ivf_silver(
                self.spark, self.silver, before_batch=self.batch_id - 1
            )

    def silver_files(self) -> int:
        return checks.parquet_files(self.silver)

    def check(self, con) -> float:
        """Exactly the planted fresh vectors landed (every planted copy
        dropped, nothing else), and the last probe equals a numpy
        brute-force cosine top-k over the landed vectors of each query's
        probed cells. Returns landed / offered."""
        rows = con.sql(
            f"SELECT vec_id, embedding FROM read_parquet("
            f"'{self.silver}/**/*.parquet', hive_partitioning = false)"
        ).fetchall()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        expect(len(ids) == len(set(ids.tolist())), "duplicate vec_id in silver")
        expect(
            sorted(ids.tolist()) == sorted(self.expected),
            f"{len(ids)} vectors landed, the planted copies imply "
            f"{len(self.expected)} (missing "
            f"{sorted(set(self.expected) - set(ids.tolist()))[:5]}, extra "
            f"{sorted(set(ids.tolist()) - set(self.expected))[:5]})",
        )
        vecs = np.array([r[1] for r in rows], dtype=np.float32)
        want = checks.ivf_reference(
            ids, vecs, self.qvecs, self.qids, self.cents, self.K, self.NPROBE
        )
        diff = checks.same_ranking(self.last_probe, want, tol=1e-5)
        expect(diff is None, f"last IVF probe differs from brute force: {diff}")
        return len(ids) / self.offered_total


class IngestWorkload(Workload):
    """A long-lived ingest service around one of the services above.
    Each write commits one micro-batch; each read is the service's read
    (a silver read-back, or a text probe); top-k probes check answers.

    Schedule: commits for the window and at least three times
    (compaction folds every batch but the last committed one, the
    engine's precondition, so three commits give it two to fold). Then
    a warm-up read, ``READS_PER_LAYOUT`` timed reads and one probe of
    the fragmented layout, one compaction, and the same reads and probe
    of the compacted layout. Every read and every probe covers the same
    rows, so each answer must equal the first one of its kind."""

    service = None  # TextService or VectorService
    # the first read in a run is still cold and is not a sample
    READS_PER_LAYOUT = 2

    def setup(self) -> None:
        h = self.h
        with self.tr.span("session.start"):
            self.spark = h.start_session(self.name, input_bytes=4_000_000)
        self.svc = self.service(h, self.seed, self.small)
        self.svc.setup(self.spark)
        h.mark_memory()

    def measure(self, t0: float) -> None:
        res, svc = self.res, self.svc
        while len(res.write_s) < self.min_writes or self.elapsed(t0) < self.seconds:
            res.rows_offered += svc.next_batch()
            self.op(svc.commit, "write")
        with self.tr.span("warmup"):
            self.op(svc.read, "warmup")
        first_read, first_probe = svc.last_read, None
        for layout in ("fragmented", "compacted"):
            if layout == "compacted":
                self.op(svc.compact, "compact")
            self.read_state = layout
            for _ in range(self.READS_PER_LAYOUT):
                self.op(svc.read, "read")
                expect(
                    svc.last_read == first_read,
                    f"{self.name}: reads changed on the {layout} layout",
                )
            self.op(svc.probe, "check")
            first_probe = first_probe or svc.last_probe
            expect(
                svc.last_probe == first_probe,
                f"{self.name}: probe answers changed across compaction",
            )
        res.layer["silver_files"] = svc.silver_files()

    def finish(self) -> None:
        self.res.layer["landed_ratio"] = self.svc.check(self.con)


class TextIngest(IngestWorkload):
    name = "text_ingest"
    service = TextService


class VectorIngest(IngestWorkload):
    name = "vector_ingest"
    service = VectorService


def ranking(rows, qcol: str, idcol: str, scol: str) -> dict:
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r[qcol], -r[scol], r[idcol])):
        out.setdefault(r[qcol], []).append((r[idcol], r[scol]))
    return out


WORKLOADS = {w.name: w for w in (KgBuild, TextIngest, VectorIngest)}
