"""The benchmark's workloads, each a closed loop in one warm Spark
session at width 4N:

* ``kg_build``   -- ``kgp.checkpoint.build_kg_pipeline`` fresh, then
  rerun on the committed output (the no-op resume path); then the
  same pages land in waves, each drained by one
  ``kgp.streaming.start_kg_stream`` availableNow call against a
  growing date-partitioned sink, the next wave landing only after the
  drain returns.
* ``train_prep`` -- ``kgp.checkpoint.build_training_pipeline`` with
  its default stages, fresh then rerun. No KG code runs.

``Workload.measure`` gives the end-to-end metrics (nothing wrapped);
``Workload.traced`` gives the per-layer metrics (see README.md).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections import defaultdict
from contextlib import nullcontext
from datetime import datetime
from pathlib import Path

from kgbench import check, stats
from kgbench.stats import now

# every per-layer metric, in BENCHMARK.json order; a workload whose
# layers do no work for a metric reports 0 for it
PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("synth.gen_s", "s"),
    ("oracle.expected_s", "s"),
    ("warmup_s", "s"),
    ("host.control_s", "s"),
    ("host.control_wide_s", "s"),
    ("scaling_eff", "ratio"),
    ("scaling.t_n_s", "s"),
    ("scaling.t_4n_s", "s"),
    ("segment.stage_s", "s"),
    ("segment.executor_ms", "ms"),
    ("segment.input_bytes", "bytes"),
    ("segment.rows_out", "count"),
    ("ner.stage_s", "s"),
    ("ner.executor_ms", "ms"),
    ("ner.rows_out", "count"),
    ("ner.hit_ratio", "ratio"),
    ("triples.capped_s", "s"),
    ("triples.triples_s", "s"),
    ("triples.entities_s", "s"),
    ("triples.shuffle_write_bytes", "bytes"),
    ("triples.spill_bytes", "bytes"),
    ("triples.cap_keep_ratio", "ratio"),
    ("triples.task_skew", "ratio"),
    ("lineage.append_s", "s"),
    ("lineage.committed_s", "s"),
    ("lineage.counts_s", "s"),
    ("lineage.spark_jobs", "count"),
    ("lineage.share", "ratio"),
    ("checkpoint.skip_s", "s"),
    ("checkpoint.write_amp", "ratio"),
    ("streaming.batch_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.sink_read_bytes", "bytes"),
    ("streaming.rows_appended", "count"),
    ("streaming.sink_scan_per_row", "ratio"),
    ("streaming.wave_max_s", "s"),
    ("streaming.wave_other_s", "s"),
    ("streaming.noop_drain_s", "s"),
    ("streaming.executor_ms", "ms"),
    ("streaming.trace_overhead_frac", "ratio"),
    ("textstats.stage_s", "s"),
    ("textstats.shuffle_write_bytes", "bytes"),
    ("textstats.spill_bytes", "bytes"),
    ("textstats.keep_ratio", "ratio"),
    ("dedup.stage_s", "s"),
    ("dedup.shuffle_write_bytes", "bytes"),
    ("dedup.spill_bytes", "bytes"),
    ("dedup.keep_ratio", "ratio"),
    ("sampling.stage_s", "s"),
    ("sampling.shuffle_write_bytes", "bytes"),
    ("sampling.spill_bytes", "bytes"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.peak_exec_mem_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("trace.traced_wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("trace.other_s", "s"),
]
_COMMON = (
    "session.start_s", "synth.gen_s", "oracle.expected_s", "warmup_s",
    "host.control_s", "host.control_wide_s",
)


def _span(b, name: str, layer: str):
    return b.tracer.span(name, layer) if b.tracer else nullcontext()


def _untraced(b, fn, *args):
    """Call ``fn`` with the run's tracer switched off: the wrappers stay
    installed but record nothing and tag no Spark job."""
    tracer, b.tracer = b.tracer, None
    tracer.enabled = False
    try:
        return fn(*args)
    finally:
        tracer.enabled = True
        b.tracer = tracer


class Batch:
    """A resumable StageRunner pipeline run fresh, then rerun on its
    committed output."""

    def __init__(self, fn_name: str, stages: list[str], check_fn) -> None:
        self.fn_name = fn_name
        self.stages = stages
        self.check_fn = check_fn

    def _call(self, b, out: Path):
        import kgp.checkpoint as checkpoint

        fn = getattr(checkpoint, self.fn_name)
        return fn(b.spark, str(b.inputs.pages_dir), str(out))

    def fresh(self, b, out: Path):
        with _span(b, "op:fresh", "checkpoint"):
            t0 = now()
            runner = self._call(b, out)
            wall = now() - t0
        problems = [] if runner.executed == self.stages else [
            f"executed {runner.executed}, expected {self.stages}"
        ]
        return wall, problems + self.check_fn(out, b.inputs)

    def noop(self, b, out: Path):
        with _span(b, "op:noop", "checkpoint"):
            t0 = now()
            runner = self._call(b, out)
            wall = now() - t0
        ok = runner.skipped == self.stages and not runner.executed
        return wall, [] if ok else [
            f"rerun executed {runner.executed}, skipped {runner.skipped}"
        ]

    def warmup(self, b) -> None:
        out = b.out_dir("warmup")
        self._call(b, out)
        shutil.rmtree(out)

    def fresh_once(self, b) -> float | None:
        """One fresh run whose output is then deleted."""
        out = b.out_dir("fresh")
        wall = b.op(self.fresh, b, out)
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def cycle(self, b, res: dict) -> None:
        out = b.out_dir("op")
        w = b.op(self.fresh, b, out)
        if w is not None:
            res["fresh"].append(w)
            n = b.op(self.noop, b, out)
            if n is not None:
                res["noop"].append(n)
        shutil.rmtree(out, ignore_errors=True)

    def trace_ops(self, b) -> dict:
        """A traced fresh run and rerun, then an untraced fresh run. The
        traced run goes first, so what is left of warming up counts as
        tracing overhead rather than hiding it."""
        out = b.out_dir("traced")
        traced = b.op(self.fresh, b, out)
        noop = b.op(self.noop, b, out)
        raw = {
            "rows": {s: check.parquet_rows(out / s) for s in self.stages},
            "written": sum(check.parquet_bytes(out / s) for s in self.stages),
        }
        shutil.rmtree(out, ignore_errors=True)
        untraced = _untraced(b, self.fresh_once, b)
        if None in (traced, noop, untraced):
            raise RuntimeError("an op of the traced protocol failed")
        raw.update(untraced=untraced, traced=traced, noop=noop)
        return raw

    def layers(self, b, raw: dict, spans: list, groups: dict) -> dict:
        from kgbench.trace import STAGE_LAYER, descendants, merge_spark, self_times

        op = next(s for s in spans if s.name == "op:fresh")
        fr = [s for s in descendants(spans, op.id) if s is not op]
        lineage = [s for s in fr if s.layer == "lineage"]

        def spark(layer=None):
            return merge_spark([
                groups[s.id] for s in fr
                if s.id in groups and layer in (None, s.layer)
            ])

        v: dict = {}
        for stage in self.stages:
            # the stage span minus its ledger calls: the layer's own work
            s = next(x for x in fr if x.name == f"stage:{stage}")
            work = s.duration - sum(
                x.duration for x in lineage if x.parent == s.id)
            layer = STAGE_LAYER[stage]
            key = f"triples.{stage}_s" if layer == "triples" else f"{layer}.stage_s"
            v[key] = work
            sp = spark(layer)
            for k in ("shuffle_write_bytes", "spill_bytes"):
                v[f"{layer}.{k}"] = sp[k]
            v[f"{layer}.executor_ms"] = sp["executor_run_ms"]
            v[f"{layer}.task_skew"] = sp["task_skew"]
        rows = raw["rows"]
        v["segment.input_bytes"] = spark("segment")["input_bytes"]
        v["segment.rows_out"] = rows["docs"]
        if "mentions" in rows:
            from kgp.gazetteer import PAGES_SURFACES

            v["ner.rows_out"] = rows["mentions"]
            v["ner.hit_ratio"] = rows["mentions"] / (
                rows["docs"] * len(PAGES_SURFACES))
            v["triples.cap_keep_ratio"] = rows["capped"] / rows["mentions"]
        if "filtered" in rows:
            v["textstats.keep_ratio"] = rows["filtered"] / rows["docs"]
            v["dedup.keep_ratio"] = rows["deduped"] / rows["filtered"]
        for fn, key in (("append_lineage", "append"),
                        ("stage_committed", "committed"),
                        ("per_partition_counts", "counts")):
            v[f"lineage.{key}_s"] = sum(
                s.duration for s in lineage if s.name == f"lineage.{fn}")
        v["lineage.spark_jobs"] = sum(
            groups[s.id]["jobs"] for s in lineage if s.id in groups)
        v["lineage.share"] = sum(s.duration for s in lineage) / op.duration
        v["checkpoint.skip_s"] = raw["noop"] / len(self.stages)
        v["checkpoint.write_amp"] = raw["written"] / check.parquet_bytes(
            b.inputs.pages_dir)
        for k, x in spark().items():
            if k not in ("jobs", "tasks", "input_bytes"):
                v[f"spark.{k}"] = x
        v["trace.traced_wall_s"] = raw["traced"]
        v["trace.untraced_wall_s"] = raw["untraced"]
        v["trace.overhead_frac"] = (raw["traced"] - raw["untraced"]) / raw["untraced"]
        v["trace.other_s"] = self_times(spans)[op.id]
        return v


def _progress(q) -> list[dict]:
    """A streaming query's recent progress reports as plain dicts."""
    import json

    return [json.loads(p.json) if hasattr(p, "json") else dict(p)
            for p in q.recentProgress]


class Stream:
    """Waves of page files, each drained by one availableNow call of
    ``start_kg_stream`` into one growing sink."""

    noop_drains = 3

    def __init__(self, waves: int, files_per_wave: int) -> None:
        self.waves = waves
        self.files_per_wave = files_per_wave

    def _files(self, b, w: int) -> list[Path]:
        k = self.files_per_wave
        return b.inputs.parts[w * k:(w + 1) * k]

    def _drain(self, b, base: Path):
        import kgp.streaming as streaming

        q = streaming.start_kg_stream(
            b.spark, str(base / "land"), str(base / "sink"), str(base / "ck"))
        q.awaitTermination()
        return q

    def _land(self, b, base: Path, w: int) -> None:
        """Copy wave ``w``'s files next to the watched dir, then rename
        them in, so the source never lists a half-written file."""
        (base / "staging").mkdir(parents=True, exist_ok=True)
        (base / "land").mkdir(parents=True, exist_ok=True)
        for f in self._files(b, w):
            shutil.copy(f, base / "staging" / f.name)
        for f in self._files(b, w):
            os.rename(base / "staging" / f.name, base / "land" / f.name)

    def wave(self, b, base: Path, w: int, record: list):
        """Land wave ``w`` and drain it; the sink must then hold exactly
        the oracle's triples for every page landed so far."""
        sink = base / "sink"
        pre = self._sink_in_dates(b, sink, w) if b.tracer else None
        self._land(b, base, w)
        t_land = now()
        with _span(b, f"wave:{w}", "streaming") as span:
            q = self._drain(b, base)
        lat = now() - t_land
        if b.tracer:
            record.append({
                "lat": lat, "span": span, "pre": pre,
                "run_id": str(q.runId), "progress": _progress(q),
                "rows": check.parquet_rows(sink),
            })
        return lat, check.check_stream(
            sink, b.inputs, (w + 1) * self.files_per_wave)

    def noop(self, b, base: Path):
        before = check.parquet_rows(base / "sink")
        t0 = now()
        q = self._drain(b, base)
        wall = now() - t0
        problems = []
        if any(p["numInputRows"] for p in _progress(q)):
            problems.append("no-op drain read input rows")
        if check.parquet_rows(base / "sink") != before:
            problems.append("no-op drain changed the sink")
        return wall, problems

    def _sink_in_dates(self, b, sink: Path, w: int) -> tuple[int, int]:
        """(bytes, rows) of the sink partitions wave ``w``'s dates hit:
        what the replay-dedup anti-join scans."""
        k = self.files_per_wave
        dates = {d for i in range(w * k, (w + 1) * k) for d in b.inputs.dates[i]}
        nbytes = nrows = 0
        for d in dates:
            part = sink / f"ingest_date={d}"
            if part.is_dir():
                nbytes += check.parquet_bytes(part)
                nrows += check.parquet_rows(part)
        return nbytes, nrows

    def episode(self, b, record: list) -> tuple[Path, list[float]]:
        """All waves into a fresh sink; stops at the first failed wave."""
        base = b.out_dir("stream")
        lats = []
        for w in range(self.waves):
            lat = b.op(self.wave, b, base, w, record)
            if lat is None:
                break
            lats.append(lat)
        return base, lats

    def warmup(self, b) -> None:
        # two waves: the first drain meets no sink, the second runs the
        # replay-dedup anti-join against one; both plans get compiled
        base = b.out_dir("warmup")
        for w in (0, 1):
            self._land(b, base, w)
            self._drain(b, base)
        shutil.rmtree(base)

    def cycle(self, b, res: dict) -> None:
        base, lats = self.episode(b, [])
        res["waves"] += lats
        shutil.rmtree(base, ignore_errors=True)

    def trace_ops(self, b) -> dict:
        """A traced episode and no-op drains on its sink, then an
        untraced episode (traced first, as in ``Batch.trace_ops``)."""
        record: list = []
        base, traced = self.episode(b, record)
        noops = [b.op(self.noop, b, base) for _ in range(self.noop_drains)]
        shutil.rmtree(base, ignore_errors=True)
        base, untraced = _untraced(b, self.episode, b, [])
        shutil.rmtree(base, ignore_errors=True)
        if None in noops or min(len(traced), len(untraced)) < self.waves:
            raise RuntimeError("an op of the traced protocol failed")
        return {"untraced": sum(untraced), "traced": sum(traced),
                "record": record, "noops": noops}

    def layers(self, b, raw: dict, tracer, groups: dict) -> dict:
        from kgbench.trace import merge_spark, self_times

        v: dict = defaultdict(float)
        batches = []
        prev_rows = scanned = 0
        for r in raw["record"]:
            for p in r["progress"]:
                if not p["numInputRows"]:
                    continue
                d = p["durationMs"]
                start = datetime.fromisoformat(p["timestamp"]).timestamp()
                batches.append(tracer.add(
                    f"batch:{p['batchId']}", "streaming", start,
                    start + d["triggerExecution"] / 1000, r["span"],
                    add_batch_ms=d.get("addBatch", 0),
                    planning_ms=d.get("queryPlanning", 0),
                ))
            v["streaming.sink_read_bytes"] += r["pre"][0]
            scanned += r["pre"][1]
            v["streaming.rows_appended"] += r["rows"] - prev_rows
            prev_rows = r["rows"]
        nb = len(batches)
        v["streaming.batches"] = nb
        v["streaming.batch_s"] = sum(s.duration for s in batches) / nb
        v["streaming.add_batch_ms"] = sum(s.attrs["add_batch_ms"] for s in batches) / nb
        v["streaming.planning_ms"] = sum(s.attrs["planning_ms"] for s in batches) / nb
        v["streaming.sink_scan_per_row"] = scanned / v["streaming.rows_appended"]
        st = self_times(tracer.spans)
        v["streaming.wave_max_s"] = max(r["lat"] for r in raw["record"])
        v["streaming.wave_other_s"] = sum(st[r["span"].id] for r in raw["record"])
        v["streaming.noop_drain_s"] = stats.median(raw["noops"])
        sp = merge_spark([groups[r["run_id"]] for r in raw["record"]
                          if r["run_id"] in groups])
        v["streaming.executor_ms"] = sp["executor_run_ms"]
        u, t = raw["untraced"], raw["traced"]
        v["streaming.trace_overhead_frac"] = (t - u) / u
        return v


class Workload:
    """A batch pipeline, optionally followed by a stream episode over
    the same pages."""

    def __init__(self, n_pages: int, parts: int, batch: Batch,
                 stream: Stream | None = None) -> None:
        self.n_pages = n_pages
        self.parts = parts
        self.batch = batch
        self.stream = stream

    def warmup(self, b) -> None:
        if not self.stream:
            self.batch.warmup(b)
            return
        # The two warmups share no output, so they run at once and their
        # code generation overlaps on otherwise idle cores.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as pool:
            stream = pool.submit(self.stream.warmup, b)
            self.batch.warmup(b)
            stream.result()

    def measure(self, b, seconds: float) -> dict:
        res: dict = {"fresh": [], "noop": [], "waves": []}
        with stats.RssSampler(b.jvm_pid, interval_s=0.25) as rss:
            t_end = now() + seconds
            while True:
                self.batch.cycle(b, res)
                if self.stream:
                    self.stream.cycle(b, res)
                if now() >= t_end:
                    break
        # without a stream the whole input is one wave
        waves = res["waves"] if self.stream else res["fresh"]
        if not res["fresh"] or not res["noop"] or not waves:
            raise RuntimeError("no successful op of some kind")
        # A tail percentile needs ten samples beyond it; a run has far
        # fewer waves, so the tail is printed with its count, not gated.
        tail, label = stats.tail(waves)
        print(f"kgbench: wave latency tail {tail:.4f} s ({label})")
        return {
            "docs_per_s": (self.n_pages / stats.median(res["fresh"]), "docs/s"),
            "wave_latency_p50_s": (stats.median(waves), "s"),
            "resume_noop_s": (stats.median(res["noop"]), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }

    def traced(self, b, width_n: int, width_4n: int, info: dict) -> dict:
        import json

        from kgbench.trace import Tracer, fold_event_logs, instrument

        tracer = b.tracer = Tracer(uuid.uuid4().hex[:8], b.spark)
        restore = instrument(tracer)
        try:
            raw_batch = self.batch.trace_ops(b)
            raw_stream = self.stream.trace_ops(b) if self.stream else None
        finally:
            restore()
            b.tracer = None
        b.restart(width_n)
        t_n = self.batch.fresh_once(b)
        b.shutdown()
        if t_n is None:
            raise RuntimeError(f"fresh run at width {width_n} failed")
        groups = fold_event_logs(b.run_dir / "eventlog")

        v = self.batch.layers(b, raw_batch, tracer.spans, groups)
        if raw_stream:
            v.update(self.stream.layers(b, raw_stream, tracer, groups))
        t_4n = raw_batch["untraced"]
        v["scaling.t_n_s"], v["scaling.t_4n_s"] = t_n, t_4n
        v["scaling_eff"] = (t_n / t_4n) / (width_4n / width_n)
        for k in _COMMON:
            v[k] = info[k]
        out = b.work / "traces" / f"{info['workload']}-seed{info['seed']}-{tracer.run_id}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        with open(out, "w") as f:
            json.dump({"info": info, "spans": tracer.to_json(),
                       "spark_groups": groups}, f)
        return {k: (float(v.get(k, 0.0)), u) for k, u in PER_LAYER}


WORKLOADS = {
    # 3000 pages in 24 files of 125; the stream then lands the first 5
    # files as 5 waves of one file each
    "kg_build": Workload(
        3000, 24,
        Batch("build_kg_pipeline",
              ["docs", "mentions", "capped", "triples", "entities"],
              check.check_kg),
        Stream(waves=5, files_per_wave=1),
    ),
    "train_prep": Workload(
        2000, 16,
        Batch("build_training_pipeline",
              ["docs", "filtered", "deduped", "split"], check.check_split),
    ),
}
