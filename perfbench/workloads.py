"""The benchmark workloads.

Each workload builds its inputs from the seed (:meth:`setup`), runs one unit
of work from input to committed output (:meth:`unit`), checks outputs off
the clock (:meth:`check`), and, in a traced run, measures its layers one
call at a time (:meth:`layers`).
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from go_html_transform_spark.functions import kernels as K
from go_html_transform_spark.functions import text as TX
from go_html_transform_spark.operators import dedup as D
from go_html_transform_spark.operators import transforms as X
from go_html_transform_spark.operators.asof import asof_join
from go_html_transform_spark.operators.window import add_features
from go_html_transform_spark.plans import incremental as INC
from go_html_transform_spark.plans.lineage import CheckpointTable, partition_lineage
from go_html_transform_spark.plans.pipeline import Transformer
from go_html_transform_spark.plans.prepare import prepare_training_corpus
from go_html_transform_spark.sources import synth as Z
from go_html_transform_spark.sources import tables as S

import inputs
import reference as R
from spans import plan_operator_counts

CACHE = StorageLevel.MEMORY_AND_DISK
SEQ_COLS = ("doc_id", "event_time", "event_id", "tokens", "n_tok", "source", "value")

# Input sizes: (full run, smoke run). A warmed unit takes about 2 s
# (feature_pipeline) and 4 s (incremental_append) on 4 cores; the
# incremental unit is mostly its chain of ~13 small Spark jobs, and took
# as long at a 250k-row state. perfbench/README.md gives the time budget
# that bounds these sizes.
SIZES = {
    "feature_pipeline": (150_000, 4_000),  # events
    "incremental_append": (100_000, 4_000),  # base events; the delta adds 1%
    "corpus_probe": (2_000, 400),  # documents, 5% planted near-dups
}

# The prepare recipe is pinned here, as in tools/bench_prepare.py, so a
# later change to the engine's defaults does not change the workload.
PREPARE_RECIPE = dict(
    min_quality_ppm=0,
    lang=None,
    jaccard_threshold=0.6,
    n_shards=64,
    near_dup_on="shingles3",
    lsh_max_bucket=4096,
)
DUP_EVERY = 20  # synth.zipf_documents: doc_key % 20 == 1 copies doc_key - 1


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def parquet_rows(path: str) -> int:
    """Rows committed under ``path`` (a file or a directory), from the
    parquet footers."""
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def matched_frac(con, path: str) -> float:
    """Share of committed rows that found an as-of label."""
    return con.execute(
        f"SELECT avg(CASE WHEN label_value IS NULL THEN 0 ELSE 1 END) FROM {R.parquet_rel(path)}"
    ).fetchone()[0]


class Workload:
    name = ""
    # Untimed warm-up rounds of warm_threads units each: at least warm_min,
    # at most warm_max (run.py stops between the two once round time stops
    # falling).
    warm_min, warm_max, warm_threads = 3, 4, 1
    # Timed passes are at least this many, and last at least --seconds.
    min_timed = 3

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.size = SIZES[self.name][1 if smoke else 0]
        os.makedirs(f"{work}/duckdb", exist_ok=True)
        self.con = R.connect(f"{work}/duckdb")

    def discard(self, res: dict) -> None:
        """Drop a pass's committed output once it has been checked."""

    def info(self) -> dict:
        """Diagnostics printed with the run's result."""
        return {}

    def close(self) -> None:
        self.con.close()


class FeaturePipeline(Workload):
    """Rule transform -> backward as-of join -> window features -> parquet."""

    name = "feature_pipeline"

    def setup(self) -> None:
        self.src = inputs.write_event_tables(self.seed, self.size, f"{self.work}/in")["base"]
        par = self.spark.sparkContext.defaultParallelism * 2
        self.seq = S.sequences(self.spark, self.src, repartition=par).persist(CACHE)
        self.lab = S.labels(self.spark, self.src).persist(CACHE)
        self.input_rows = self.seq.count()
        self.label_rows = self.lab.count()
        self.transformer = (
            Transformer(self.seq)
            .apply("t982", lambda t, p: X.append_children(t, [1023]))
            .apply(
                "t756 > t982",
                lambda t, p: X.subtransform(t, lambda tok: tok == 756, lambda tok: tok + 1),
            )
        )
        self.frame = add_features(
            asof_join(self.transformer.df.select(*SEQ_COLS), self.lab, direction="backward")
        )
        self.expected = None

    def unit(self, i: int) -> dict:
        out = f"{self.work}/out{i}"
        self.frame.write.parquet(out)
        self.last_out = out
        return {"out": out}

    def discard(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    def check(self, res: dict) -> dict:
        if self.expected is None:
            self.expected = R.load_expected(
                self.con, "expected", R.features_sql([self.src], rules=True)
            )
        got = f"SELECT * FROM {R.parquet_rel(res['out'])}"
        return {"mismatch_rows": R.mismatch_rows(self.con, "expected", self.expected, got)}

    def leak_rows(self, res: dict) -> int:
        out = self.spark.read.parquet(res["out"])
        return INC.audit_temporal_leakage(out, self.lab).count()

    def layers(self, tr) -> tuple[dict, dict]:
        """Per-layer metrics, and the checks the corpus probe ran."""
        m: dict = {}
        sp = self.spark
        m["tables.s"] = _timed_pass(
            tr, "tables", lambda: (noop(S.sequences(sp, self.src)), noop(S.labels(sp, self.src)))
        )
        m["tables.rows"] = self.input_rows + self.label_rows
        m["pipeline.s"] = _timed_pass(tr, "pipeline", lambda: noop(self.transformer.df))
        rewritten = self.transformer.df.join(
            self.seq.select("event_id", F.col("tokens").alias("__orig")), "event_id"
        ).filter(F.col("tokens") != F.col("__orig"))
        with tr.span("pipeline.count"):
            m["pipeline.rows_rewritten"] = rewritten.count()
        m.update(_asof_plan(tr, self.transformer.df.select(*SEQ_COLS), self.lab))
        joined = asof_join(self.seq.select(*SEQ_COLS), self.lab, direction="backward")
        m["asof.s"] = _timed_pass(tr, "asof", lambda: noop(joined))
        m["asof.matched_frac"] = matched_frac(self.con, self.last_out)
        window = add_features(self.seq.select(*SEQ_COLS))
        m["window.s"] = _timed_pass(tr, "window", lambda: noop(window))
        m.update({f"window.{k}": v for k, v in plan_operator_counts(self.frame).items()})
        m.update(_sink_pass(tr, self.frame, f"{self.work}/sink_probe")[0])
        probe = CorpusProbe(sp, self.work, self.seed, SIZES["corpus_probe"][self.smoke], self.con)
        probe.setup()
        m.update(probe.layers(tr))
        return m, probe.check()


class IncrementalAppend(Workload):
    """A committed feature state refreshed with a 1% event delta, committed
    through ``CheckpointTable.run_stage``."""

    name = "incremental_append"
    # Its unit is a chain of ~13 small jobs whose time is mostly the
    # driver's fixed cost per job, and that keeps falling while the JIT
    # compiles it: from ~11 s to ~3.5 s over eight to ten units on 4 cores,
    # where a feature_pipeline pass levels off after three. The chain leaves
    # cores idle, so two units at a time warm it in ~35 s instead of ~50 s;
    # each unit writes its own output and checkpoint, so they do not collide.
    warm_min, warm_max, warm_threads = 4, 4, 2
    # Each pass varies with the host's load more (+-20%) than a
    # feature_pipeline pass (+-5%).
    min_timed = 5

    def setup(self) -> None:
        sp = self.spark
        info = inputs.write_event_tables(self.seed, self.size, f"{self.work}/in", with_delta=True)
        self.base_dir, self.delta_dir = info["base"], info["delta"]
        self.delta_users = info["delta_users"]
        par = sp.sparkContext.defaultParallelism * 2
        seq = S.sequences(sp, self.base_dir, repartition=par).select(*SEQ_COLS)
        self.lab = S.labels(sp, self.base_dir).persist(CACHE)
        self.label_rows = self.lab.count()
        self.state = f"{self.work}/in/state"
        INC.compute_features(seq, self.lab).write.parquet(self.state)
        self.events = S.sequences(sp, self.delta_dir).select(*SEQ_COLS)
        self.new_labels = S.labels(sp, self.delta_dir)
        self.input_rows = parquet_rows(self.state) + parquet_rows(f"{self.delta_dir}/events.parquet")
        self.expected = None

    def frame(self):
        prev = self.spark.read.parquet(self.state)
        return INC.incremental_features(prev, self.events, self.lab, self.new_labels)

    def unit(self, i: int) -> dict:
        out, ckpt = f"{self.work}/out{i}", f"{self.work}/ckpt{i}"
        CheckpointTable(self.spark, ckpt).run_stage(
            self.frame(), "features", out, snapshot_id="delta", run_id=str(i)
        )
        return {"out": out, "ckpt": ckpt}

    def discard(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)
        shutil.rmtree(res["ckpt"], ignore_errors=True)

    def info(self) -> dict:
        return {"delta_users": self.delta_users}

    def check(self, res: dict) -> dict:
        """Against the full recompute of base plus delta (compute_features'
        DuckDB twin)."""
        if self.expected is None:
            sql = R.features_sql([self.base_dir, self.delta_dir], rules=False)
            self.expected = R.load_expected(self.con, "expected", sql)
        got = f"SELECT * FROM {R.parquet_rel(res['out'])}"
        return {"mismatch_rows": R.mismatch_rows(self.con, "expected", self.expected, got)}

    def leak_rows(self, res: dict) -> int:
        out = self.spark.read.parquet(res["out"])
        return INC.audit_temporal_leakage(out, self.lab.unionByName(self.new_labels)).count()

    def layers(self, tr) -> tuple[dict, dict]:
        """Per-layer metrics; no checks beyond the unit's."""
        m: dict = {}
        sp = self.spark
        m["tables.s"] = _timed_pass(
            tr, "tables",
            lambda: (noop(S.sequences(sp, self.delta_dir)), noop(S.labels(sp, self.base_dir))),
        )
        m["tables.rows"] = self.label_rows + self.events.count()
        frame = self.frame()
        m["incremental.s"] = _timed_pass(tr, "incremental", lambda: noop(frame))
        dirty = INC.dirty_keys(self.events, self.new_labels)
        prev = sp.read.parquet(self.state)
        with tr.span("incremental.count"):
            m["incremental.dirty_keys"] = dirty.count()
            touched = prev.join(F.broadcast(dirty), "doc_id", "left_semi").count()
            m["incremental.recompute_frac"] = (touched + self.events.count()) / self.input_rows
        # the as-of and window work of one refresh: the dirty slice only
        events = prev.drop(*INC.FEATURE_COLS).join(F.broadcast(dirty), "doc_id", "left_semi")
        events = events.unionByName(self.events.select(events.columns))
        labels = self.lab.unionByName(self.new_labels).join(
            F.broadcast(dirty), "doc_id", "left_semi"
        )
        m.update(_asof_plan(tr, events, labels))
        joined = asof_join(events, labels, direction="backward")
        m["asof.s"] = _timed_pass(tr, "asof", lambda: noop(joined))
        window = add_features(events)
        m["window.s"] = _timed_pass(tr, "window", lambda: noop(window))
        m.update({f"window.{k}": v for k, v in plan_operator_counts(frame).items()})
        sink, parquet_s = _sink_pass(tr, frame, f"{self.work}/sink_probe")
        m.update(sink)
        m["asof.matched_frac"] = matched_frac(self.con, f"{self.work}/sink_probe")
        ckpt = CheckpointTable(sp, f"{self.work}/lineage_ckpt")
        m["lineage.s"] = _timed_pass(tr, "lineage", lambda: ckpt.run_stage(
            frame, "features", f"{self.work}/lineage_out", snapshot_id="delta"
        )) - parquet_s
        with tr.span("lineage.digest"):
            m["lineage.digest_s"] = timed(lambda: partition_lineage(frame, "features").collect())
        m["lineage.buckets"] = ckpt.read().count()
        return m, {}


class CorpusProbe:
    """``prepare_training_corpus`` with the pinned recipe on a Zipf text
    corpus with planted near-duplicates, and its text, kernel and dedup
    layers one call at a time. Runs inside the traced feature_pipeline
    run; perfbench/README.md says why it is not a timed workload."""

    def __init__(self, spark, work: str, seed: int, n_docs: int, con):
        self.spark, self.seed, self.size, self.con = spark, seed, n_docs, con
        self.src = f"{work}/corpus"
        self.out = f"{work}/corpus_out"

    def setup(self) -> None:
        docs = Z.zipf_documents(
            self.spark, self.size, vocab_size=32_768, avg_len=200,
            dup_every=DUP_EVERY, seed=self.seed,
        )
        # rendered as text so every stage of the recipe does real work
        (
            docs.select(
                F.col("doc_key").alias("doc_id"),
                F.concat_ws(
                    " ", F.transform("tokens", lambda t: F.concat(F.lit("w"), t))
                ).alias("text"),
                F.lit("xx").alias("lang"),
                F.concat(F.lit("s"), F.pmod(F.col("doc_key"), F.lit(5))).alias("source"),
            )
            .withColumn("n_chars", F.length("text"))
            .repartition(self.spark.sparkContext.defaultParallelism * 2)
            .write.mode("overwrite")
            .parquet(f"{self.src}/documents.parquet")
        )

    def unit(self) -> None:
        prepare_training_corpus(
            self.spark, self.src, out_dir=self.out, collect_stats=False, **PREPARE_RECIPE
        )

    def check(self) -> dict:
        """Recall and precision of the committed corpus against the planted
        structure."""
        q = f"""
            SELECT count(*) FILTER (WHERE k % {DUP_EVERY} = 1 AND k > 0),
                   count(*) FILTER (WHERE NOT (k % {DUP_EVERY} = 1 AND k > 0))
            FROM (SELECT doc_key AS k FROM {R.parquet_rel(self.out)})
        """
        planted_kept, other_kept = self.con.execute(q).fetchone()
        planted = len(range(1, self.size, DUP_EVERY))
        return {
            "dup_recall": 1.0 - planted_kept / planted,
            "nondup_kept_frac": other_kept / (self.size - planted),
        }

    def layers(self, tr) -> dict:
        m: dict = {}
        docs = S.documents_tokenized(self.spark, self.src)
        scored = docs.select(
            TX.lang_id(F.col("text")).alias("l"), TX.quality_score_ppm(F.col("text")).alias("q")
        )
        m["text.s"] = _timed_pass(tr, "text", lambda: noop(scored))
        exact = D.exact_dedup(docs, "doc_id", F.col("text")).persist(CACHE)
        with tr.span("prepare.count"):
            m["prepare.exact_removed"] = self.size - exact.count()
        sh = exact.select("doc_id", D.shingles3(F.col("tokens")).alias("__sh"))
        sig = sh.select(K.minhash16_arrow(F.col("__sh")).alias("s"))
        m["kernels.minhash_s"] = _timed_pass(tr, "kernels", lambda: noop(sig))
        cap = PREPARE_RECIPE["lsh_max_bucket"]
        pairs = D.ngram_near_duplicates(
            exact, "doc_id", threshold=PREPARE_RECIPE["jaccard_threshold"], max_bucket=cap
        )
        m["dedup.s"] = _timed_pass(tr, "dedup", lambda: noop(pairs))
        with tr.span("dedup.count"):
            cands = D.minhash_lsh_candidates(sh, "doc_id", "__sh", max_bucket=cap).count()
            verified = pairs.count()
            biggest, dropped = (
                sh.select(F.explode(D.lsh_bands(K.minhash16_arrow(F.col("__sh")))).alias("b"))
                .groupBy("b").count()
                .agg(F.max("count"), F.sum((F.col("count") > cap).cast("int")))
                .first()
            )
        exact.unpersist()
        m["dedup.candidates"] = cands
        m["dedup.verified_pairs"] = verified
        m["dedup.verify_yield"] = verified / cands if cands else 0.0
        m["dedup.max_bucket_docs"] = biggest
        m["dedup.dropped_buckets"] = dropped
        m["prepare.s"] = _timed_pass(tr, "prepare", self.unit)
        return m


def _timed_pass(tr, layer: str, fn) -> float:
    """Wall time of ``fn`` run once inside the span of ``layer``."""
    with tr.span(layer):
        return timed(fn)


def _asof_plan(tr, left, right) -> dict:
    """Wall time and Spark jobs of building the as-of plan (no action)."""
    jobs0 = tr.job_count()
    t = timed(lambda: asof_join(left, right, direction="backward"))
    return {"asof.plan_build_s": t, "asof.plan_jobs": tr.job_count() - jobs0}


def _sink_pass(tr, frame, path: str) -> tuple[dict, float]:
    """The parquet write of ``frame`` minus a noop pass of the same frame;
    also returns the parquet write's own time. An untimed noop pass first
    compiles the frame's plan, so that neither timed pass pays for it."""
    noop(frame)
    compute = _timed_pass(tr, "compute", lambda: noop(frame))
    write = _timed_pass(tr, "sink", lambda: frame.write.mode("overwrite").parquet(path))
    size, files = dir_stats(path)
    return {"sink.s": write - compute, "sink.mb": size / 2**20, "sink.files": files}, write


WORKLOADS = {w.name: w for w in (FeaturePipeline, IncrementalAppend)}
