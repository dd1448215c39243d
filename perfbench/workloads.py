"""The benchmark's workloads.

Each workload generates its input from the seed (untimed), registers it
through ``sources.register_views`` (part of set-up), and then runs
jobs.  ``job`` is the timed unit; ``check`` and ``verify`` run outside
the timed windows and return problems (empty list = pass).

Timed jobs reuse no results: every classify job first calls
``pipeline.invalidate_pass1_cache``; batches are distinct parquet files,
each registered as ``documents`` by the job that classifies it; every
StageRunner gets a fresh workdir.
"""

from __future__ import annotations

import os
import tempfile

import gen
import checks

# classify_batches: distinct small scene batches, each classified and
# written through the mask sink (the ``classify_job -o`` path).
BATCH_DOCS = 2000
BATCH_POOL = 6              # tables generated per run (cycled if needed)
BATCH_SPEC = dict(n_sources=72, zipf=1.0, words=(20, 60))

# curate_text: corpus curation + exact and IVF ANN over one corpus.
CURATE_SPEC = dict(n_docs=2000, n_vecs=2000, n_sources=72,
                   words=(20, 60), dup_share=0.08, exact_share=0.02,
                   vocab=20_000)
# the DuckDB oracles are slow (recursive closure), so they check a
# reduced input drawn from the same generator
ORACLE_SPEC = dict(CURATE_SPEC, n_docs=600, n_vecs=600)

MASK_COLS = ("url", "cell_id", "r", "c", "fmask_class", "cloud_id",
             "cloud_height_du", "cloud_base_temp_c", "text_sha256")


class Workload:
    name = ""
    docs_per_job = 0
    tables: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.input_dir = os.path.join(work, "input")
        # filled by checks and the traced run's extras (run.py reads them)
        self.extras: dict[str, float] = {}
        self.digests: dict[str, str] = {}
        self.cell_rows: list[tuple[int, int]] = []
        self.recalls: list[float] = []
        self.dist = None    # (span id, lineage rows, stage bytes)

    def register(self, spark) -> None:
        from python_fmask_spark import sources
        sources.register_views(spark, self.input_dir, tables=self.tables)


class ClassifyBatches(Workload):
    name = "classify_batches"
    docs_per_job = BATCH_DOCS
    tables = ("documents",)

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.batches = tuple(f"batch_{k:03d}" for k in range(BATCH_POOL))
        self.docs = {}

    def batch_dir(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def generate(self) -> None:
        # each batch is its own <batch>/documents.parquet, registered as
        # ``documents`` the way scripts/classify_job.py registers its input
        for k, name in enumerate(self.batches):
            spec = gen.DocSpec(n_docs=BATCH_DOCS, id_base=k * BATCH_DOCS,
                               **BATCH_SPEC)
            table = gen.make_documents(self.seed, spec)
            os.makedirs(self.batch_dir(name))
            gen.write_table(table, os.path.join(self.batch_dir(name),
                                                "documents.parquet"))
            self.docs[name] = table.to_pandas()

    def register(self, spark, name: str | None = None) -> None:
        from python_fmask_spark import sources
        sources.register_views(spark, self.batch_dir(name or self.batches[0]),
                               tables=self.tables)

    def batch_for(self, i: int) -> str:
        return self.batches[i % len(self.batches)]

    def classify(self, spark, name: str):
        """Register batch ``name`` as ``documents`` and build its
        classification, reusing no earlier pass-1 result."""
        from python_fmask_spark import pipeline

        self.register(spark, name)
        pipeline.invalidate_pass1_cache(spark)
        return pipeline.classify(spark)

    def job(self, spark, i: int):
        from python_fmask_spark.plans import sinks

        name = self.batch_for(i)
        out = self.classify(spark, name)
        if self.tracer.enabled:
            # split plan and execution from the sink write
            with self.tracer.span("pipeline.classify_plan"):
                out._jdf.queryExecution().executedPlan()
            with self.tracer.span("pipeline.classify_exec"):
                out = out.localCheckpoint()
        sinks.write_mask(out, f"mask_{name}", fmt="parquet")
        return name

    def check(self, spark, i: int, name: str) -> list[str]:
        back = spark.table(f"mask_{name}").toPandas()
        problems = checks.check_classify(back, self.docs[name])
        problems += checks.same_digest(self.digests, name,
                                       checks.class_digest(back))
        rows = back.groupby("cell_id").size()
        self.cell_rows.append((int(rows.max()), int(rows.median())))
        return problems

    def verify(self, spark) -> list[str]:
        """Run the first job's batch through the job's path once more
        (so this also warms the session up): the mask sink's read-back
        equals the frame it wrote, and its digest equals the first
        job's."""
        from python_fmask_spark.plans import sinks

        name = self.batch_for(0)
        out = self.classify(spark, name)
        sinks.write_mask(out, "mask_verify", fmt="parquet")
        back = spark.table("mask_verify").toPandas()[list(MASK_COLS)]
        frame = out.select(*MASK_COLS).toPandas()
        return (checks.check_same_rows(frame, back, "write_mask read-back")
                + checks.same_digest(self.digests, name,
                                     checks.class_digest(back),
                                     "classify repeated"))

    def trace_extras(self, spark) -> list[str]:
        """Traced run only: the bounded-grain distributed path
        (``classify_job --mode distributed --tempdir``) on one batch,
        checked against pipeline.classify's output for that batch."""
        from python_fmask_spark import pipeline
        from python_fmask_spark.operators import scene_dist
        from python_fmask_spark.plans.lineage import StageRunner

        name = self.batch_for(0)
        self.register(spark, name)
        wd = tempfile.mkdtemp(prefix="stages-", dir=self.work)
        pipeline.invalidate_pass1_cache(spark)
        tr = self.tracer
        with tr.span("scene_dist.exec") as sp:
            runner = StageRunner(spark, wd, run_id=tr.run_id)
            out = scene_dist.classify_distributed(spark, runner=runner)
            got = out.select("url", "fmask_class", "cloud_id",
                             "text_sha256").toPandas()
        self.dist = (sp["id"], runner.lineage().toPandas(), _du(wd))
        problems = checks.check_classify(got, self.docs[name])
        return problems + checks.same_digest(
            self.digests, name, checks.class_digest(got),
            "distributed classify vs pipeline.classify")


class CurateText(Workload):
    name = "curate_text"
    docs_per_job = CURATE_SPEC["n_docs"]
    tables = ("documents", "embeddings")

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.oracle_dir = os.path.join(work, "oracle_input")

    def generate(self) -> None:
        import pandas as pd

        gen.write_input(self.input_dir, self.seed, gen.DocSpec(**CURATE_SPEC))
        self.docs = pd.read_parquet(
            os.path.join(self.input_dir, "documents.parquet"))
        gen.write_input(self.oracle_dir, self.seed,
                        gen.DocSpec(**ORACLE_SPEC))

    def job(self, spark, i: int):
        from python_fmask_spark.dialect import SPARK
        from python_fmask_spark.functions import curation, similarity

        tr = self.tracer
        with tr.span("curation.curate"):
            cur = curation.corpus_curate(spark).toPandas()
        with tr.span("similarity.bruteforce"):
            brute = spark.sql(similarity.q_ann_bruteforce(SPARK)).toPandas()
        with tr.span("similarity.ivf"):
            ivf = similarity.ann_ivf_frame(spark).toPandas()
        return cur, brute, ivf

    def check(self, spark, i: int, res) -> list[str]:
        from python_fmask_spark.functions.similarity import N_QUERIES, TOP_K

        cur, brute, ivf = res
        problems = checks.check_curate(cur, self.docs)
        problems += checks.check_topk(brute, N_QUERIES, TOP_K, "bruteforce")
        problems += checks.check_topk(ivf, N_QUERIES, TOP_K, "ivf")
        self.recalls.append(checks.recall(ivf, brute))
        for key, frame in zip(("corpus_curate", "ann_bruteforce", "ann_ivf"),
                              res):
            problems += checks.same_digest(
                self.digests, key, checks.digest(frame, tuple(frame.columns)))
        return problems

    def verify(self, spark) -> list[str]:
        """corpus_curate and q_ann_bruteforce equal their DuckDB
        renderings, on the reduced input; then one checked job on the
        full input, which ends the warm-up (after the reduced input
        alone the first steady job still ran 10-25 % slower)."""
        import duckdb

        from python_fmask_spark import sources
        from python_fmask_spark.dialect import DUCKDB, SPARK
        from python_fmask_spark.functions import curation, similarity

        sources.register_views(spark, self.oracle_dir, tables=self.tables)
        try:
            cur = curation.corpus_curate(spark).toPandas()
            brute = spark.sql(similarity.q_ann_bruteforce(SPARK)).toPandas()
        finally:
            self.register(spark)
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.oracle_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            ocur = con.execute(curation.q_corpus_curate_oracle()).df()
            obrute = con.execute(similarity.q_ann_bruteforce(DUCKDB)).df()
        finally:
            con.close()
        return (checks.check_same_rows(cur, ocur, "corpus_curate vs oracle")
                + checks.check_same_rows(brute, obrute,
                                         "q_ann_bruteforce vs DuckDB")
                + self.check(spark, 0, self.job(spark, 0)))

    def trace_extras(self, spark) -> list[str]:
        """Traced run only: candidate-pair count and the largest LSH
        bucket (the collect_list buffer a mega-bucket would blow up)."""
        from python_fmask_spark.dialect import SPARK
        from python_fmask_spark.functions import dedup

        self.extras["dedup.pairs"] = spark.sql(
            dedup.q_minhash_pairs(SPARK)).count()
        self.extras["dedup.bucket_max"] = spark.sql(
            f"WITH {dedup._minhash_cte(SPARK, distinct_shingles=False)} "
            "SELECT max(n) AS m FROM (SELECT count(*) AS n FROM bands "
            "GROUP BY band, band_hash)").collect()[0]["m"]
        return []


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (ClassifyBatches, CurateText)}

