"""The benchmark workloads.

Each workload is closed loop: one caller, the next op starts when the
previous one has returned.  ``op`` is the untraced, timed call whose wall
feeds the end-to-end metrics; ``traced_op`` re-runs the same layers with a
span around each layer call and each lazy layer forced at its span boundary
by a checksum aggregate (then persisted, so a downstream span does not
recompute it).  Forcing breaks plan fusion, so traced walls are never
reported as end-to-end numbers.  ``check`` returns the list of failed
output checks of one op; an op with any failure counts as failed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import JobSet, Tracer, clip, progress_collector, union_length


def force(df) -> None:
    """Evaluate every column of ``df``: an order-free checksum over the row
    struct (``count()`` would let Catalyst prune the projections)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    df.select(F.xxhash64(F.struct(*cols)).alias("h")).agg(F.expr("bit_xor(h)")).collect()


def forced(df):
    """Persist ``df`` and evaluate it, so later spans read the cached rows."""
    df = df.persist()
    force(df)
    return df


def parquet_rows(pattern: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(pattern))


def part_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "part-*"), recursive=True)


@dataclass
class OpResult:
    rows: int
    wall: float
    failures: list[str]
    traced: dict[str, float] = field(default_factory=dict)


# ------------------------------------------------------------ pretok_batch

class PretokBatch:
    """North-rule batch pipeline over the pre-tokenized table."""

    name = "pretok_batch"
    n_docs = 30_000
    n_files = 8
    seq_cols = (
        "label", "region", "template_id", "n_tok", "n_distinct_tok",
        "first_tok", "last_tok", "n_tok_ok",
    )

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        self.inp = gen.write_pretok(self.seed, self.n_docs, os.path.join(self.work, "input"), self.n_files)

    def bind(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.inp.path)
        self.meta = spark.read.parquet(self.inp.meta_path)

    def op(self, out: str) -> OpResult:
        from sparklead import pipeline

        t0 = time.perf_counter()
        res = pipeline.run_pipeline(self.df, self.meta, out, resume=False)
        wall = time.perf_counter() - t0
        return OpResult(self.n_docs, wall, self.check(out, res["manifests"]))

    def check(self, out: str, manifests: dict) -> list[str]:
        n, bad = self.n_docs, []
        for sink in ("token_vectors", "seq_features"):
            if manifests[sink]["rows"] != n:
                bad.append(f"{sink} manifest rows {manifests[sink]['rows']} != {n}")
        for sink in ("source_agg", "template_counts"):
            got = pq.read_table(os.path.join(out, sink), columns=["n_seqs"]).column("n_seqs").to_pylist()
            if sum(got) != n:
                bad.append(f"{sink} sum(n_seqs) {sum(got)} != {n}")
        freq = sum(pq.read_table(os.path.join(out, "vocabulary"), columns=["freq"]).column("freq").to_pylist())
        if freq != self.inp.sum_n_tok:
            bad.append(f"vocabulary sum(freq) {freq} != input sum(n_tok) {self.inp.sum_n_tok}")
        return bad

    def traced_op(self, out: str, tracer: Tracer) -> OpResult:
        from sparklead import pipeline, routing
        from sparklead.pipeline import enrich_stage, parse_stage, token_vectors

        real_write_sink = routing.write_sink

        def traced_write_sink(df, path, mode="overwrite"):
            parent, t0 = tracer.current(), time.time()
            try:
                return real_write_sink(df, path, mode)
            finally:
                tracer.record("routing.write_sink", t0, time.time(), parent)

        with tracer.span("bench.op"):
            with tracer.span("pipeline.parse_enrich"):
                enriched = forced(enrich_stage(parse_stage(self.df), self.meta))
            with tracer.span("pipeline.token_vectors"):
                force(token_vectors(enriched, keep=self.seq_cols))
            enriched.unpersist()
            routing.write_sink = traced_write_sink
            try:
                with tracer.span("pipeline.run_pipeline"):
                    res = pipeline.run_pipeline(self.df, self.meta, out, resume=False)
            finally:
                routing.write_sink = real_write_sink
            with tracer.span("pipeline.rollups"):
                feats = self.spark.read.parquet(os.path.join(out, "seq_features"))
                tv = self.spark.read.parquet(os.path.join(out, "token_vectors"))
                for frame in (
                    pipeline.template_counts(feats),
                    pipeline.source_agg(feats),
                    pipeline.vocabulary_from_vectors(tv),
                ):
                    force(frame)
        failures = self.check(out, res["manifests"])
        files = part_files(out)
        with tracer.span("routing.resume"):
            resumed = pipeline.run_pipeline(self.df, self.meta, out, resume=True)["manifests"]
        n_resumed = sum(bool(m.get("resumed")) for m in resumed.values())
        if n_resumed != len(resumed):
            failures.append(f"resume skipped {n_resumed} of {len(resumed)} sinks")
        stream = self._stream_leg(os.path.join(self.work, "stream"), tracer, failures)
        return OpResult(
            self.n_docs,
            0.0,
            failures,
            {
                "routing.files_written": len(files),
                "routing.bytes_written": sum(os.path.getsize(f) for f in files),
                "routing.resumed_ratio": n_resumed / len(resumed),
            }
            | stream,
        )

    def _stream_leg(self, root: str, tracer: Tracer, failures: list[str]) -> dict[str, float]:
        """The same files as a stream: one micro-batch per input file."""
        from sparklead.streaming import stream_route

        shutil.rmtree(root, ignore_errors=True)
        listener = progress_collector()
        self.spark.streams.addListener(listener)
        try:
            with tracer.span("streaming.stream_route"):
                q = stream_route(self.spark, self.inp.path, root, self.meta, max_files_per_trigger=1)
                q.awaitTermination()
            progress = listener.for_query(str(q.id), self.n_files)
        finally:
            self.spark.streams.removeListener(listener)
        with open(os.path.join(root, "stream_manifest.jsonl")) as f:
            committed = sum(bool(json.loads(line).get("committed")) for line in f)
        if committed != self.n_files:
            failures.append(f"stream committed {committed} batches != {self.n_files} files")
        rows = parquet_rows(os.path.join(root, "seq_features", "batch_id=*", "part-*"))
        if rows != self.n_docs:
            failures.append(f"stream seq_features rows {rows} != {self.n_docs}")
        n = max(len(progress), 1)

        def p50(*keys: str) -> float:
            return statistics.median(sum(e["ms"].get(k, 0) for k in keys) for e in progress) if progress else 0.0

        return {
            "streaming.batches": len(progress),
            "streaming.batch_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.wal_commit_ms_p50": p50("walCommit", "commitOffsets"),
            "streaming.first_batch_ms": progress[0]["ms"]["triggerExecution"] if progress else 0.0,
            "streaming.files_per_batch": len(part_files(root)) / n,
        }

    def layer_metrics(self, op: OpResult, tracer: Tracer, jobs: JobSet, cores: int) -> dict[str, float]:
        by_name = {s.name: s for s in tracer.spans}
        run = by_name["pipeline.run_pipeline"]
        run_jobs = jobs.within(run)
        writes = [(s.start, s.end) for s in tracer.named("routing.write_sink") if s.parent == run.id]
        job_iv = jobs.intervals()
        tail = sum((e - s) - union_length(clip(job_iv, s, e)) for s, e in writes)
        stream_jobs = jobs.within(by_name["streaming.stream_route"])
        return {
            "pipeline.parse_enrich_s": by_name["pipeline.parse_enrich"].wall,
            "pipeline.token_vectors_s": by_name["pipeline.token_vectors"].wall,
            "pipeline.rollups_s": by_name["pipeline.rollups"].wall,
            "pipeline.run_pipeline_s": run.wall,
            "pipeline.core_util": jobs.busy_s(run_jobs) / (run.wall * cores),
            "pipeline.shuffle_write_bytes": jobs.metric(run_jobs, "shuffleWriteBytes"),
            "routing.write_s": union_length(writes),
            "routing.driver_tail_s": tail,
            "routing.resume_s": by_name["routing.resume"].wall,
            "streaming.jobs_per_batch": len(stream_jobs) / max(op.traced["streaming.batches"], 1),
        } | op.traced


# ------------------------------------------------------------ loglead_hdfs

class LogleadHdfs:
    """The paper's own path: raw HDFS lines to detector predictions."""

    name = "loglead_hdfs"
    n_lines = 10_000
    n_files = 4
    templates = len(gen.HDFS_TEMPLATES)
    f1_floor = 0.8

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        self.inp = gen.write_hdfs(self.seed, self.n_lines, os.path.join(self.work, "input"), self.n_files)

    def bind(self, spark) -> None:
        self.spark = spark
        self.raw = spark.read.parquet(self.inp.path)
        self.labels = spark.read.parquet(self.inp.labels_path)

    @staticmethod
    def _featurizer():
        from sparklead.detectors.ad import SeqFeaturizer

        return SeqFeaturizer(item_col="events", numeric_cols=("seq_len",), label_col="anomaly")

    @staticmethod
    def _predictions(det, seq) -> list:
        from sparklead.detectors.ad import hash_bucket

        # train_test_split(seq, 0.5) puts bucket < 0.5 on the test side
        test = (hash_bucket("seq_id", 42) < 0.5).alias("test")
        return det.predict(seq).select("seq_id", "pred_ano", test).collect()

    def op(self, out: str) -> OpResult:
        from sparklead.detectors.ad import AnomalyDetector, train_test_split
        from sparklead.enhancers import eventlog as E
        from sparklead.enhancers.sequence import aggregate_sequences
        from sparklead.mining.drain import parse_drain
        from sparklead.sources.hdfs import attach_labels, load_hdfs_events

        t0 = time.perf_counter()
        events = E.length(E.words(E.normalize(load_hdfs_events(self.raw)), "e_message_normalized"))
        parsed, miner = parse_drain(events, "e_words", "e_event_drain_id")
        seq = attach_labels(aggregate_sequences(parsed, event_col="e_event_drain_id"), self.labels)
        train, _ = train_test_split(seq, 0.5)
        det = AnomalyDetector(self._featurizer()).train(train, "LR")
        preds = self._predictions(det, seq)
        wall = time.perf_counter() - t0
        return OpResult(self.n_lines, wall, self.check(len(miner.templates), preds))

    def check(self, n_templates: int, preds: list) -> list[str]:
        bad = []
        if n_templates != self.templates:
            bad.append(f"mined {n_templates} templates != planted {self.templates}")
        got = sorted(r["seq_id"] for r in preds)
        if got != sorted(self.inp.seq_ids):
            bad.append(f"{len(got)} sequences != {len(self.inp.seq_ids)} distinct input seq_ids")
        tp = fp = fn = 0
        for r in preds:
            if r["test"]:
                truth, pred = r["seq_id"] in self.inp.anomalous, bool(r["pred_ano"])
                tp, fp, fn = tp + (truth and pred), fp + (pred and not truth), fn + (truth and not pred)
        f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
        if f1 < self.f1_floor:
            bad.append(f"detector F1 {f1:.3f} < floor {self.f1_floor}")
        return bad

    def traced_op(self, out: str, tracer: Tracer) -> OpResult:
        from pyspark.sql import functions as F

        from sparklead.detectors.ad import AnomalyDetector, train_test_split
        from sparklead.enhancers import eventlog as E
        from sparklead.enhancers.sequence import aggregate_sequences
        from sparklead.mining.drain import DrainMiner
        from sparklead.sources.hdfs import attach_labels, load_hdfs_events

        cached = []
        with tracer.span("bench.op"):
            with tracer.span("sources.load"):
                events = forced(load_hdfs_events(self.raw))
                cached.append(events)
            with tracer.span("enhancers.normalize"):
                normalized = forced(E.normalize(events))
                cached.append(normalized)
            with tracer.span("enhancers.tokenize"):
                tokens = forced(E.length(E.words(normalized, "e_message_normalized")))
                cached.append(tokens)
            with tracer.span("mining.drain_fit"):
                miner = DrainMiner().fit(tokens, "e_words")
            with tracer.span("mining.drain_assign"):
                parsed = forced(miner.assign(tokens, "e_words", "e_event_drain_id"))
                cached.append(parsed)
            with tracer.span("sequence.aggregate"):
                seq = forced(
                    attach_labels(aggregate_sequences(parsed, event_col="e_event_drain_id"), self.labels)
                )
                cached.append(seq)
            with tracer.span("detectors.featurize"):
                train, _ = train_test_split(seq, 0.5)
                feat = self._featurizer().fit(train)
            with tracer.span("detectors.train"):
                det = AnomalyDetector(feat).train(train, "LR")
            with tracer.span("detectors.predict"):
                preds = self._predictions(det, seq)
        failures = self.check(len(miner.templates), preds)
        counts = events.agg(
            F.count(F.lit(1)).alias("n"), F.sum((F.col("seq_id") != "").cast("long")).alias("hit")
        ).first()
        matched = parsed.filter(F.col("e_event_drain_id").isNotNull()).count()
        for df in cached:
            df.unpersist()
        return OpResult(
            self.n_lines,
            0.0,
            failures,
            {
                "sources.seq_id_hit_ratio": counts["hit"] / counts["n"],
                "mining.templates": len(miner.templates),
                "mining.match_ratio": matched / counts["n"],
            },
        )

    def layer_metrics(self, op: OpResult, tracer: Tracer, jobs: JobSet, cores: int) -> dict[str, float]:
        by_name = {s.name: s for s in tracer.spans}
        seq = jobs.within(by_name["sequence.aggregate"])
        det_jobs = jobs.within(*(by_name[f"detectors.{n}"] for n in ("featurize", "train", "predict")))
        return {
            "sources.load_s": by_name["sources.load"].wall,
            "enhancers.normalize_s": by_name["enhancers.normalize"].wall,
            "enhancers.tokenize_s": by_name["enhancers.tokenize"].wall,
            "mining.drain_fit_s": by_name["mining.drain_fit"].wall,
            "mining.drain_assign_s": by_name["mining.drain_assign"].wall,
            "sequence.aggregate_s": by_name["sequence.aggregate"].wall,
            "sequence.shuffle_write_bytes": jobs.metric(seq, "shuffleWriteBytes"),
            "sequence.spill_bytes": jobs.metric(seq, "diskBytesSpilled") + jobs.metric(seq, "memoryBytesSpilled"),
            "detectors.featurize_s": by_name["detectors.featurize"].wall,
            "detectors.train_s": by_name["detectors.train"].wall,
            "detectors.predict_s": by_name["detectors.predict"].wall,
            "detectors.jobs": len(det_jobs),
        } | op.traced


WORKLOADS = {w.name: w for w in (PretokBatch, LogleadHdfs)}
