"""kgp benchmark: one workload, one seed, one JSON line.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. It drives the functions the shipped jobs
call (``kgp.checkpoint.build_kg_pipeline``,
``kgp.checkpoint.build_training_pipeline``,
``kgp.streaming.start_kg_stream``) in one warm Spark session and checks
every output against ``kgp.oracle``. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the traced protocol and prints
the per-layer metrics. The last line of stdout is the JSON result;
everything under ``.kgbench/`` is scratch (inputs are cached there by
generator version, size and seed). See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from kgbench import stats  # noqa: E402
from kgbench.stats import now  # noqa: E402


class Bench:
    """One run: work directories, the Spark session, the inputs and the
    count of ops attempted and failed."""

    def __init__(self, work: Path, trace: bool) -> None:
        self.work = work
        self.run_dir = work / "runs" / f"{os.getpid()}-{uuid.uuid4().hex[:6]}"
        self.trace = trace
        self.spark = None
        self.jvm_pid = 0
        self.tracer = None
        self.inputs = None
        self.attempted = 0
        self.failed = 0
        self._out = itertools.count()  # next() is atomic across threads
        for sub in ("local", "tmp", "eventlog"):
            (self.run_dir / sub).mkdir(parents=True, exist_ok=True)
        # Spark shuffle/spill and Python temp files stay in the run dir
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "local")
        os.environ["TMPDIR"] = str(self.run_dir / "tmp")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # no hsperfdata files in the system temp dir from either JVM
        # (spark-submit's launcher and the driver)
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    def out_dir(self, tag: str) -> Path:
        return self.run_dir / f"{tag}-{next(self._out)}"

    # -- session -----------------------------------------------------

    def start(self, cores: int) -> float:
        """Start (or restart at another width) the Spark session;
        returns the seconds it took."""
        from kgp.session import get_spark

        t0 = now()
        conf = {
            # a fixed, pre-touched 1 GiB heap: the JVM's resident size
            # then does not depend on when G1 decides to grow the heap,
            # and peak_rss_mb moves with Python-worker and off-heap use
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.run_dir / "local"),
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.driver.extraJavaOptions":
                "-Xms1g -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.run_dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("kgbench", cores=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        return now() - t0

    def restart(self, cores: int) -> float:
        """New SparkContext at ``cores`` in the same JVM."""
        self.spark.stop()
        return self.start(cores)

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and its Python workers, and wait for
        each process to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        tree = [self.jvm_pid] + _descendants(self.jvm_pid)
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(_alive(p) for p in tree):
            time.sleep(0.1)
        for p in tree:
            if _alive(p):
                os.kill(p, 9)

    # -- ops ---------------------------------------------------------

    def op(self, fn, *args):
        """Run one op: ``fn`` returns its result and a list of
        problems found in its output. Returns the result, or None when
        the op raised or its output differs from the oracle."""
        self.attempted += 1
        try:
            result, problems = fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"kgbench: {fn.__name__} output wrong: {problems}",
                  file=sys.stderr)
            self.failed += 1
            return None
        return result


def _descendants(pid: int) -> list[int]:
    kids = stats.children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    from kgbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measured time; whole cycles are run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kgp" / "checkpoint.py").is_file():
        print(f"kgbench: no kgp package under {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    work = ROOT / ".kgbench"
    b = Bench(work, bool(args.trace))
    width_n, width_4n = stats.widths()
    info: dict = {"workload": args.workload, "seed": args.seed,
                  "widths": [width_n, width_4n], "pages": wl.n_pages}
    try:
        info["host.control_s"] = stats.host_control(1)
        info["host.control_wide_s"] = stats.host_control(width_4n)

        from kgbench.check import ensure_inputs

        t_setup = now()
        b.inputs, info["synth.gen_s"], info["oracle.expected_s"] = (
            ensure_inputs(work / "cache", wl.n_pages, args.seed, wl.parts)
        )
        info["cache_hit"] = not b.inputs.generated
        info["session.start_s"] = b.start(width_4n)
        t0 = now()
        wl.warmup(b)
        info["warmup_s"] = now() - t0
        info["setup_s"] = now() - t_setup
        if args.trace:
            metrics = wl.traced(b, width_n, width_4n, info)
        else:
            metrics = wl.measure(b, args.seconds)
            metrics["setup_s"] = (info["setup_s"], "s")
    finally:
        b.shutdown()
        shutil.rmtree(b.run_dir, ignore_errors=True)

    info["attempted"], info["failed"] = b.attempted, b.failed
    info["ops_failed_frac"] = b.failed / max(1, b.attempted)
    print("kgbench: " + json.dumps(info, sort_keys=True))
    if b.attempted == b.failed:
        print("kgbench: every op failed; no result", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
