#!/usr/bin/env python3
"""The repository benchmark: the ``jobs/extract.py`` checkpointed
extraction pipeline, driven in-process at local[nproc].

    python3 perfbench/run.py --workload chat_turns --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. Each run generates its input from
``--seed`` (cached under ``.perfbench_work/``), computes the oracle
manifest through the independent Doc path, sets the session up once
(JVM launch included), discards two warm-up repetitions and then repeats
the job's own ``run_checkpointed`` call for ``--seconds`` (at least three
times). After each repetition, outside its timed region, the committed
manifest and the output read back from disk are checked bucket by
bucket against the oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a separate traced run (Spark event log plus spans
around calls into each layer) and writes its spans to
``.perfbench_work/traces/``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; any bucket that
differs from the oracle makes the exit code 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs, probes  # noqa: E402


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


class Program:
    """The program under test, imported from the checkout."""

    def __init__(self):
        needed = ("htmlparser_spark/__init__.py", "jobs/extract.py",
                  "bench.py", "bench/stageprof.py")
        missing = [p for p in needed if not (ROOT / p).is_file()]
        if missing:
            raise SystemExit(f"perfbench: {', '.join(missing)} not found "
                             f"under {ROOT}; run from a full checkout")
        # importing the job also exports the checkout on PYTHONPATH,
        # which the local-mode Python workers need to import the kernel
        self.job = _load("perfbench_extract_job", ROOT / "jobs/extract.py")
        self.bench_host = _load("perfbench_bench_host", ROOT / "bench.py")
        self.parse_events = _load("perfbench_stageprof",
                                  ROOT / "bench/stageprof.py").parse_events
        from htmlparser_spark.operators.checkpoint import run_checkpointed
        from htmlparser_spark.session import get_spark
        self.run_checkpointed = run_checkpointed
        self.get_spark = get_spark


class Bench:
    # Repetitions discarded before timing: repetitions in a fresh JVM
    # keep getting faster for several calls while it warms up, and
    # across runs the 2nd and 3rd calls spread far more than later ones.
    WARM_REPS = 2
    MIN_REPS = 3
    # Back-to-back no-op re-runs in the traced run; each takes well
    # under a second, so one sample alone is mostly noise.
    NOOP_RERUNS = 5

    def __init__(self, args, prog: Program):
        self.args = args
        self.prog = prog
        self.w = inputs.workload(args.workload, tiny=args.tiny)
        self.work = Path(args.workdir).resolve()
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.setups: list = []   # (t0, session up, warm-up done) per set-up
        self.run_dir = self.work / "run"
        self.out = str(self.run_dir / "out")
        self.ck = str(self.run_dir / "manifest")
        self.attempted = 0
        self.failed = 0
        self.notes: list = []
        self.t_start = time.time()

    def log(self, msg: str) -> None:
        print(f"[perfbench +{time.time() - self.t_start:.1f}s] {msg}",
              file=sys.stderr, flush=True)

    # ---------------------------------------------------------- session
    def configure_env(self) -> None:
        """Keep Spark's scratch files inside the work directory."""
        tmp = self.work / "tmp"
        for d in (tmp, self.work / "spark-local"):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(tmp)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp}") + " pyspark-shell")

    def start(self) -> None:
        """Start (or restart) the session the way the job does: get_spark,
        WARN logging, the parquet.block.size override and the warm-up
        kernel pass. Records its (start, session up, warm-up done)
        times."""
        from pyspark.sql import functions as F

        from htmlparser_spark.kernel import extract_text

        if self.spark is not None:
            self.spark.stop()
        t0 = time.time()
        spark = self.prog.get_spark(app="perfbench", cores=self.cores)
        spark.sparkContext.setLogLevel("WARN")
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        if hconf.get("parquet.block.size") is None:
            hconf.setInt("parquet.block.size", 33554432)
        t1 = time.time()
        self.spark = spark
        par = spark.sparkContext.defaultParallelism
        warm = spark.range(0, par * 8, 1, par).select(
            F.concat(F.lit("<div><p>warm</p><script>s</script>#"),
                     F.col("id").cast("string"), F.lit("</div>"))
            .alias("text"))
        extract_text(warm, strip=True, include_raw=True).write \
            .format("noop").mode("overwrite").save()
        self.setups.append((t0, t1, time.time()))

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def enable_eventlog(self, evdir: Path) -> None:
        """Turn the event log on for sessions started from now on (JVM
        system properties are read into every new SparkConf)."""
        evdir.mkdir(parents=True, exist_ok=True)
        system = self.spark.sparkContext._jvm.java.lang.System
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", evdir.as_uri()),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            system.setProperty(k, v)

    # ------------------------------------------------------------ input
    def prepare(self) -> None:
        self.table, self.oracle = inputs.prepare(
            self.spark, self.w, self.args.seed, self.work / "inputs")
        self.expected = {int(k): tuple(v)
                         for k, v in self.oracle["buckets"].items()}

    # --------------------------------------------------------- pipeline
    def read_input(self):
        """The job's read_input for a parquet --input."""
        return self.spark.read.parquet(self.table)

    def call(self, df, max_buckets=None, run_id="perfbench") -> list:
        """The job's run_checkpointed call (jobs/extract.py main())."""
        transform, extra = self.prog.job.make_transform("text")
        return self.prog.run_checkpointed(
            self.spark, df, self.out, self.ck,
            n_buckets=inputs.N_BUCKETS, run_id=run_id,
            max_buckets=max_buckets, lineage_mode=self.w.lineage_mode,
            transform=transform, extra_hash_cols=extra,
            extract_kwargs={"include_raw": self.w.include_raw,
                            "num_partitions": None,
                            "order_impl": "window"})

    def clean(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.run_dir.mkdir(parents=True)

    def committed(self) -> list:
        """(partition_id, n_rows, content_hash) of every manifest row."""
        import pyarrow.parquet as pq
        rows = []
        for f in sorted(Path(self.ck).glob("manifest-*.parquet")):
            t = pq.read_table(f, columns=["partition_id", "n_rows",
                                          "content_hash"]).to_pylist()
            rows += [(r["partition_id"], r["n_rows"], r["content_hash"])
                     for r in t]
        return rows

    def check_manifest(self) -> None:
        """Count buckets whose committed (n_rows, content_hash) is
        missing, duplicated or differs from the oracle."""
        got: dict = {}
        for pid, n, h in self.committed():
            got.setdefault(pid, []).append((n, h))
        bad = sum(1 for pid, exp in self.expected.items()
                  if got.get(pid) != [exp])
        bad += sum(1 for pid in got if pid not in self.expected)
        self.attempted += len(self.expected)
        self.failed += bad

    def check_readback(self) -> None:
        """Count buckets whose rows read back from the committed output
        differ from the oracle (see inputs.readback_mismatches)."""
        _, extra = self.prog.job.make_transform("text")
        checked, bad = inputs.readback_mismatches(
            self.spark, self.out, self.oracle, self.w.include_raw, extra)
        if bad:
            self.notes.append(f"read-back buckets differ: {bad}")
        self.attempted += checked
        self.failed += len(bad)

    def rep(self, resume: bool = False) -> dict:
        """One repetition from an empty output: [an untimed first run
        that commits half the buckets,] a full JVM GC so every timed
        call starts from the same heap state, the timed call, and then
        the manifest and read-back checks."""
        self.clean()
        skipped, before = set(), {}
        if resume:
            self.call(self.read_input(), max_buckets=inputs.N_BUCKETS // 2,
                      run_id="first-half")
            skipped = {pid for pid, _, _ in self.committed()}
            before = self.bucket_files(skipped)
        df = self.read_input()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        with probes.PeakRss() as rss:
            t0 = time.time()
            rows = self.call(df)
            t1 = time.time()
        self.check_manifest()
        self.check_readback()
        after = self.bucket_files(skipped)
        rewritten = {p for p in skipped if before[p] != after[p]}
        return {"wall": t1 - t0, "t0": t0, "t1": t1, "rows": rows,
                "rss_mb": rss.peak_mb, "skipped": skipped,
                "rewritten": rewritten}

    def noop_reruns(self, df, n: int) -> list:
        """Walls of ``n`` calls over a fully committed manifest; each
        must commit nothing."""
        walls = []
        for _ in range(n):
            t0 = time.time()
            again = self.call(df, run_id="noop")
            walls.append(time.time() - t0)
            if again:
                self.notes.append(f"no-op re-run committed {len(again)} "
                                  "buckets")
                self.failed += len(again)
        return walls

    def bucket_files(self, pids) -> dict:
        """{pid: {(file name, mtime_ns)}} of committed bucket outputs."""
        return {p: {(f.name, f.stat().st_mtime_ns) for f in
                    Path(self.out, f"partition_id={p}").glob("*.parquet")}
                for p in pids}

    def timed_reps(self) -> list:
        for _ in range(self.WARM_REPS):
            self.rep()
        reps, t_end = [], time.time() + self.args.seconds
        while len(reps) < self.MIN_REPS or time.time() < t_end:
            reps.append(self.rep())
        return reps

    def committed_mb(self, rows) -> float:
        return sum(self.oracle["bucket_bytes"][str(r.partition_id)]
                   for r in rows) / 1e6

    # -------------------------------------------------------- end to end
    def end_to_end(self) -> dict:
        # setup_s is the one set-up the job pays: JVM launch, get_spark
        # and the warm-up pass. A second set-up in this process would
        # reuse the running JVM and measure only a session restart.
        self.log("set-up (launches the JVM)")
        self.start()
        t0, _, t2 = self.setups[0]
        self.log("prepare input and oracle")
        self.prepare()
        self.log("repetitions")
        reps = self.timed_reps()
        self.log(f"{len(reps)} timed repetitions done")
        self.samples = {"wall_s": [r["wall"] for r in reps],
                        "peak_rss_mb": [r["rss_mb"] for r in reps]}
        wall = statistics.median(self.samples["wall_s"])
        rows = reps[-1]["rows"]
        return {
            "setup_s": (t2 - t0, "s"),
            "wall_s": (wall, "s"),
            "turns_per_s": (sum(r.n_rows for r in rows) / wall, "1/s"),
            "mb_per_s": (self.committed_mb(rows) / wall, "MB/s"),
        }

    # -------------------------------------------------------- per layer
    def per_layer(self) -> dict:
        from perfbench import layers
        return layers.traced_run(self)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time per run, after set-up and warm-up")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--workdir", default=str(ROOT / ".perfbench_work"))
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    prog = Program()
    bench = Bench(args, prog)
    bench.configure_env()
    bench.log("host facts")
    host_before = probes.host_facts(prog.bench_host, bool(args.trace))
    try:
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        bench.stop()
        probes.end_children()
    bench.log("host facts")
    host_after = probes.host_facts(prog.bench_host, bool(args.trace))
    bench.log("done")
    correct = bench.failed == 0 and bench.attempted > 0
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "tiny": args.tiny,
              "host_before": host_before, "host_after": host_after,
              "samples": getattr(bench, "samples", {}),
              "notes": bench.notes, "correct": correct,
              "attempted": bench.attempted, "failed": bench.failed,
              "metrics": {k: v[0] for k, v in metrics.items()}}
    res_dir = bench.work / "results"
    res_dir.mkdir(parents=True, exist_ok=True)
    (res_dir / f"{args.workload}-s{args.seed}-trace{args.trace}.json") \
        .write_text(json.dumps(detail, indent=1))
    print("perfbench host: " + json.dumps(
        {"before": host_before, "after": host_after}))
    if "layer_self_s" in detail["samples"]:
        print("perfbench self time by layer (s): "
              + json.dumps(detail["samples"]["layer_self_s"]))
    for k, (v, unit) in metrics.items():
        print(f"perfbench {args.workload} {k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
