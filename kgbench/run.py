"""Benchmark of the S1-S4 web pipeline (extract → link → canonicalize →
materialize) through its public API.

    python3 kgbench/run.py --workload build|delta --seed N --seconds S --trace 0|1

Workloads (see kgbench/README.md), each the first pipeline pass of a fresh
Spark session, as one spark-submit would run it:
  build  S1-S4 of a seeded crawl into an empty out_dir;
  delta  a resubmit of the base crawl plus one seeded new segment against a
         copy of the base crawl's store.

The base crawl and its store are built once per checkout and program
version, by a separate process, into ``.kgbench_cache/``. Timed passes start
until ``--seconds`` have elapsed (at least one), each into a fresh out_dir,
and every pass's output is checked outside its timing. ``--trace 1``
replaces the timed pass with a traced one plus layer probes and reports the
per-layer metrics instead. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines above it list
every metric with its unit and sample count.

Scratch files go to ``.kgbench_work/`` (removed at exit); traced runs leave
their spans in ``.kgbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

N_PAGES = 256
SEGMENTS = 16
WORKLOADS = ("build", "delta")
#: Spark task slots and JVM flags. A pass at this crawl size is bound by
#: per-job fixed cost and JVM warm-up, not by task parallelism: on 4 vCPUs a
#: cold pass takes as long at local[1] as at local[4]. What made its cost vary
#: from run to run was the C2 compiler, whose work during a 30 s pass depends
#: on timing: the CPU time of a cold pass varied by about +-10 % at local[4]
#: and at local[1], and did not follow a fixed CPU-bound loop timed just
#: before each pass. With C1 only (TieredStopAtLevel=1), one task slot and
#: one GC thread, the process tree keeps about two threads busy, and its CPU
#: time per pass varied by about +-3 %. kgbench/README.md has the figures.
CORES = 1
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ParallelGCThreads=1 -XX:ConcGCThreads=1"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=N_PAGES,
                    help="base crawl size, a multiple of 16 (smaller only for smoke tests)")
    args = ap.parse_args(argv)
    if args.pages < SEGMENTS or args.pages % SEGMENTS:
        ap.error(f"--pages must be a positive multiple of {SEGMENTS}")
    return args


class Bench:
    """One benchmark run: a Spark session, its inputs and its passes."""

    def __init__(self, args, work: Path) -> None:
        from tracing import Spans

        self.args = args
        self.work = work
        self.n = args.pages
        self.seg = args.pages // SEGMENTS
        self.cores = CORES
        self.spans = Spans()
        self.failures: list[str] = []
        self.digest = None
        self.last_stats: dict | None = None

    # ---- set-up -------------------------------------------------------
    def start_session(self):
        from extremexp_knowledge_graph_spark.session import get_spark

        tmp = self.work / "tmp"
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": str(self.work / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
            })
        self.spark = get_spark("kgbench", cpus=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def make_inputs(self) -> None:
        import load

        self.aliases = load.aliases(self.spark)
        self.expr = load.bucket_expr(self.seg)
        self.forms = load.new_forms(self.args.seed)
        if self.args.workload == "build":
            self.pages_path = str(self.work / "pages")
            load.write_crawl(self.spark, self.pages_path, self.n, self.args.seed)
            self.pages = self.spark.read.parquet(self.pages_path)
        else:
            delta_path = str(self.work / "delta_pages")
            load.write_delta_segment(self.spark, delta_path, self.n, self.seg, self.args.seed, self.forms)
            self.pages = self.spark.read.parquet(self.base_pages, delta_path)

    def ensure_base(self) -> None:
        """Find or make the delta workload's base: the base crawl and the
        store built from it. It is made once per checkout, program version
        and crawl size, by whichever run of either workload comes first, in
        a fresh interpreter (so that run's session stays cold), and published
        with one rename."""
        program = sorted((ROOT / "extremexp_knowledge_graph_spark").rglob("*.py"))
        key = hashlib.sha256(f"{self.n}/{SEGMENTS}".encode())
        for f in program + [Path(__file__).with_name("load.py")]:
            key.update(f.read_bytes())
        cache = ROOT / ".kgbench_cache" / f"base-{key.hexdigest()[:16]}"
        if not (cache / "meta.json").exists():
            tmp = cache.with_name(f"{cache.name}.tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            proc = multiprocessing.get_context("spawn").Process(
                target=build_base, args=(str(tmp), self.n, str(self.work / "base_build"))
            )
            proc.start()
            proc.join(timeout=600)
            if proc.is_alive():
                proc.kill()
                proc.join()
            if proc.exitcode != 0:
                raise RuntimeError(f"building the base store failed (exit code {proc.exitcode})")
            try:
                tmp.rename(cache)
            except OSError:  # another run published the same base first
                shutil.rmtree(tmp, ignore_errors=True)
        meta = json.loads((cache / "meta.json").read_text())
        self.base_dir = str(cache / "store")
        self.base_pages = str(cache / "pages")
        self.base_build_s = meta["base_build_s"]
        self.base_triples = meta["triples"]

    def setup(self) -> None:
        with self.spans.span("setup"):
            with self.spans.span("setup.base"):
                self.ensure_base()
            with self.spans.span("setup.session"):
                self.start_session()
            with self.spans.span("setup.inputs"):
                self.make_inputs()

    # ---- passes -------------------------------------------------------
    def fresh_out(self, name: str) -> str:
        out = str(self.work / name)
        if self.args.workload == "delta":
            shutil.copytree(self.base_dir, out)
        return out

    def check(self, out: str, stats: dict) -> list[str]:
        """The workload's output checks on a pass's out_dir; its store must
        also match the first pass's (same input, same store)."""
        import checks

        digest = checks.store_digest(out + "/triples")
        if self.args.workload == "delta":
            errs = checks.check_delta(out, self.base_dir + "/triples", stats, self.n, self.seg)
        else:
            errs = checks.check_build(out, self.pages_path, self.n, digest)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errs.append("store digest differs from the first pass's")
        return errs

    def timed_pass(self, name: str) -> dict | None:
        """One untraced pass plus its output check; None if it raised."""
        from extremexp_knowledge_graph_spark.plans.web_pipeline import run_web_pipeline
        from tracing import tree_cpu_s

        out = self.fresh_out(name)
        try:
            cpu0 = tree_cpu_s()
            with self.spans.span(name) as sp:
                stats = run_web_pipeline(self.spark, self.pages, out,
                                         aliases=self.aliases, bucket_expr=self.expr)
            cpu_s = tree_cpu_s() - cpu0
            errs = self.check(out, stats)
        except Exception:  # a failed pass is counted, and the run goes on
            traceback.print_exc()
            self.failures.append(f"{name} raised")
            return None
        self.failures.extend(f"{name}: {e}" for e in errs)
        self.last_stats = stats
        shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": sp["wall_s"], "cpu_s": cpu_s, "stats": stats, "ok": not errs}

    def run_passes(self) -> list[dict | None]:
        passes = []
        deadline = time.monotonic() + self.args.seconds
        while not passes or time.monotonic() < deadline:
            passes.append(self.timed_pass(f"pass{len(passes)}"))
        return passes

    # ---- shutdown -----------------------------------------------------
    def stop(self) -> None:
        """Stop Spark, its JVM and the JVM's Python workers, and wait for each."""
        import signal

        from pyspark import SparkContext
        from tracing import descendants

        if not hasattr(self, "spark"):
            return
        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 20
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def build_base(out: str, n_pages: int, work: str) -> None:
    """Make the delta workload's base in ``out``: ``pages/``, the base crawl;
    ``store/``, the out_dir of one S1-S4 run over it; ``meta.json``, that
    run's wall time and triple count (written last)."""
    import load

    from extremexp_knowledge_graph_spark.plans.web_pipeline import run_web_pipeline

    bench = Bench(argparse.Namespace(workload="base", seed=load.BASE_SEED, seconds=0, trace=0,
                                     pages=n_pages), Path(work))
    (bench.work / "tmp").mkdir(parents=True, exist_ok=True)
    bench.start_session()
    try:
        load.write_crawl(bench.spark, f"{out}/pages", n_pages, load.BASE_SEED)
        t0 = time.monotonic()
        stats = run_web_pipeline(bench.spark, bench.spark.read.parquet(f"{out}/pages"), f"{out}/store",
                                 aliases=load.aliases(bench.spark),
                                 bucket_expr=load.bucket_expr(bench.seg))
        meta = {"base_build_s": time.monotonic() - t0,
                "triples": stats["s4_materialize"]["new_triples"]}
    finally:
        bench.stop()
    Path(out, "meta.json").write_text(json.dumps(meta))


def end_to_end(bench: Bench, passes: list, rss_mb: float) -> dict:
    """The bounded end-to-end metrics: name -> (value, unit, samples)."""
    cpus = [p["cpu_s"] for p in passes if p is not None]
    return {
        "pass_cpu_s": (statistics.median(cpus) if cpus else 0.0, "s", len(cpus)),
        "setup_s": (bench.spans.wall("setup"), "s", 1),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }


def report(args, bench: Bench, passes: list, layers: dict | None, rss_mb: float) -> None:
    """Print the human-readable table, then the result JSON as the last line."""
    attempted = len(passes) + (layers["attempted"] if layers else 0)
    failed = sum(p is None or not p["ok"] for p in passes) + (layers["failed"] if layers else 0)
    st = bench.last_stats
    print(f"workload={args.workload} seed={args.seed} pages={bench.n} segments={SEGMENTS} "
          f"delta_pages={bench.seg} new_forms={','.join(bench.forms)} cores={bench.cores}")
    if st:
        rows, _, digest = bench.digest
        print(f"new_triples={st['s4_materialize']['new_triples']} "
              f"delta_entities={st['s3_canonicalize']['delta_entities']} store_triples={rows} "
              f"store_digest={digest[:16]}"
              + f" base_triples={bench.base_triples} base_build_s={bench.base_build_s:.2f}")
    print("spans: " + " ".join(f"{s['name']}={s['wall_s']:.2f}s" for s in bench.spans.spans
                               if s["parent"] in (None, "setup")))
    if layers:
        metrics = layers["metrics"]
        for name, (v, unit) in metrics.items():
            print(f"{name:>46} {v:16.4f} {unit}")
    else:
        e2e = end_to_end(bench, passes, rss_mb)
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
        for name, (v, unit, n) in e2e.items():
            print(f"{name:>16} {v:14.4f} {unit:<5} n={n}")
        walls = [p["wall_s"] for p in passes if p]
        alias = {"build": "build_s", "delta": "delta_s"}[args.workload]
        print(f"{'pass_s':>16} {statistics.median(walls) if walls else 0.0:14.4f} s     "
              f"n={len(walls)}  ({alias}, wall time; not bounded)")
        rates = [p["stats"]["s4_materialize"]["new_triples"] / p["wall_s"] for p in passes if p]
        print(f"{'triples_per_s':>16} {statistics.median(rates) if rates else 0.0:14.4f} 1/s   "
              f"n={len(rates)}  (triples inserted / pass_s; not bounded)")
    print(f"{'failed_share':>16} {failed / max(attempted, 1):14.4f} ratio n={attempted}")
    for msg in bench.failures:
        print(f"FAILED: {msg}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}),
          flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import duckdb  # noqa: F401

        import extremexp_knowledge_graph_spark as program
    except ImportError as e:
        print(f"kgbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if not Path(program.__file__).resolve().is_relative_to(ROOT):
        print(f"kgbench: the program was imported from {program.__file__}, not this checkout",
              file=sys.stderr)
        return 2
    from tracing import PeakRss

    work = ROOT / ".kgbench_work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    bench = Bench(args, work)
    layers = None
    try:
        with PeakRss() as rss:
            try:
                bench.setup()
                if args.trace:
                    import layers as layer_probe

                    passes, layers = [], layer_probe.traced(bench)
                else:
                    passes = bench.run_passes()
            finally:
                rss.sample()
                bench.stop()
        if layers is not None:
            layers = layer_probe.fold(bench, layers)
            spans_out = ROOT / ".kgbench_out"
            spans_out.mkdir(exist_ok=True)
            (spans_out / f"spans-{args.workload}-seed{args.seed}.json").write_text(
                json.dumps({"spans": bench.spans.spans, "metrics": layers["metrics"]}, indent=1)
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".kgbench_work").iterdir()):
            (ROOT / ".kgbench_work").rmdir()
    report(args, bench, passes, layers, rss.mb)
    return 0


if __name__ == "__main__":
    sys.exit(main())
