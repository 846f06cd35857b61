"""The traced run: attributes a workload's wall time to the program's
layers from outside, by timing calls into each layer's public functions
and reading Spark's own event log.

Layers (module names): ``session`` (session.py), ``sources`` (the scan
of the generated table), ``kernel`` (kernel.extract_text, the
mapInPandas JVM<->Python boundary), ``htmldom`` (htmldom/fused.py and
the Doc path) and ``checkpoint`` (operators/checkpoint.py, with the
ordering window of operators/extract.py fused into its write stage).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from pathlib import Path

from perfbench import probes

# in-process htmldom sample: first rows of the input table
_SAMPLE = {"chat": 8000, "web": 120}
_LEG_REPS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_arrow(batches):
    yield from batches


def _identity_pandas(frames):
    yield from frames


def _timed(fn, reps: int = _LEG_REPS) -> float:
    """Median wall of ``reps`` calls of ``fn``."""
    walls = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        walls.append(time.time() - t0)
    return statistics.median(walls)


def _legs(b, tr: probes.Tracer) -> dict:
    """Stage-level legs over the same columns the kernel reads:
    scan -> noop, identity mapInArrow / mapInPandas -> noop, and the
    kernel's extract_text -> noop with the workload's flags."""
    from htmlparser_spark.kernel import extract_text

    df = b.read_input().select("conv_id", "turn_idx", "text")
    legs = {}
    for name, layer, make in (
            ("scan", "sources", lambda: df),
            ("crossing_arrow", "kernel",
             lambda: df.mapInArrow(_identity_arrow, df.schema)),
            ("crossing_pandas", "kernel",
             lambda: df.mapInPandas(_identity_pandas, df.schema)),
            ("stage", "kernel",
             lambda: extract_text(df, strip=True,
                                  include_raw=b.w.include_raw,
                                  drop_text=True))):
        with tr.span(f"{layer}.{name}_noop", layer=layer):
            legs[name] = _timed(lambda: _noop(make()))
    return legs


def _htmldom(b, tr: probes.Tracer) -> dict:
    """Single-core in-process throughput of the fused kernel and of
    the Doc path over a fixed sample of the workload's input."""
    import pyarrow.parquet as pq

    from htmlparser_spark.htmldom import parse, to_raw_html, to_text_stripped
    from htmlparser_spark.htmldom.fused import extract_fused

    first = sorted(Path(b.table).glob("*.parquet"))[0]
    texts = pq.read_table(first, columns=["text"]).column("text") \
        .to_pylist()[:_SAMPLE[b.w.source]]
    mb = sum(len(s.encode()) for s in texts) / 1e6
    raw = b.w.include_raw

    def fused():
        for s in texts:
            extract_fused(s, strip=True, want_raw=raw)

    def docpath():
        for s in texts:
            d = parse(s)
            to_text_stripped(d)
            if raw:
                to_raw_html(d)

    with tr.span("htmldom.fused", layer="htmldom"):
        t_fused = _timed(fused, 3)
    with tr.span("htmldom.docpath", layer="htmldom"):
        t_doc = _timed(docpath, 3)
    return {"fused_mb_per_s_core": mb / t_fused,
            "fused_turns_per_s_core": len(texts) / t_fused,
            "docpath_mb_per_s_core": mb / t_doc}


def _output_facts(b) -> dict:
    """Exact sums and file counts read back from the committed output."""
    from pyspark.sql import functions as F

    tot = b.spark.read.parquet(b.out) \
        .agg(F.sum("n_nodes"), F.sum("n_errors")).first()
    files = [p for p in Path(b.out).rglob("*.parquet")]
    out_bytes = sum(p.stat().st_size for p in files)
    b.attempted += 1
    if (tot[0], tot[1]) != (b.oracle["n_nodes"], b.oracle["n_errors"]):
        b.failed += 1
        b.notes.append(f"n_nodes/n_errors {tuple(tot)} != oracle")
    return {"n_nodes": tot[0], "n_errors": tot[1],
            "files_written": len(files),
            "out_bytes_per_in_byte": out_bytes / b.oracle["input_bytes"]}


def attribute(ev: probes.EventLog, tr: probes.Tracer, parent: int,
              t0: float, t1: float) -> dict:
    """Event-log spans under one run_checkpointed call [t0, t1]:
    resume plan (jobs before the write), the write execution (kernel
    stage, post-exchange write stage, commit), the lineage re-read and
    the driver-side manifest append. Returns the stage ids per phase
    and the phase durations."""
    sqls = ev.between("sql", t0, t1)

    def stages_of(sql):
        return [st for st in ev.stages.values()
                if st["job"] is not None
                and ev.jobs[st["job"]]["sql"] == sql["id"]]

    write = next(s for s in sqls
                 if any(st["py_sent"] > 0 for st in stages_of(s)))
    kstage = next(st for st in stages_of(write) if st["py_sent"] > 0)
    wstages = sorted((st for st in stages_of(write) if st is not kstage),
                     key=lambda st: st["start"])
    pre = ev.between("job", t0, write["start"])
    post = ev.between("job", write["end"], t1)
    plan_end = max([t0] + [j["end"] for j in pre])
    p_id = tr.add("checkpoint.resume_plan", t0, plan_end, parent,
                  layer="checkpoint")
    for j in pre:
        tr.add(f"spark.job.{j['id']}", j["start"], j["end"], p_id,
               layer="spark")
    w_id = tr.add("checkpoint.write", write["start"], write["end"], parent,
                  layer="checkpoint")
    tr.add("kernel.stage", kstage["start"], kstage["end"], w_id,
           layer="kernel", stage=kstage["id"])
    w_end = wstages[-1]["end"] if wstages else kstage["end"]
    if wstages:
        tr.add("checkpoint.write_stage", wstages[0]["start"], w_end, w_id,
               layer="checkpoint", stages=[st["id"] for st in wstages])
    tr.add("checkpoint.commit", w_end, write["end"], w_id,
           layer="checkpoint")
    lin_start = post[0]["start"] if post else write["end"]
    lin_end = post[-1]["end"] if post else write["end"]
    l_id = tr.add("checkpoint.lineage", lin_start, lin_end, parent,
                  layer="checkpoint")
    for j in post:
        tr.add(f"spark.job.{j['id']}", j["start"], j["end"], l_id,
               layer="spark")
    tr.add("checkpoint.manifest_append", lin_end, t1, parent,
           layer="checkpoint")
    return {"kernel": [kstage["id"]],
            "write": [st["id"] for st in wstages],
            "lineage": [s for j in post for s in j["stages"]
                        if s in ev.stages],
            "resume_plan_s": plan_end - t0,
            "write_stage_s": (w_end - wstages[0]["start"]) if wstages else 0.0,
            "lineage_s": lin_end - lin_start,
            "manifest_append_s": t1 - lin_end}


def traced_run(b) -> dict:
    """Untraced reference reps, then the same call traced (event log
    on), a resumed call, the layer legs and the in-process htmldom
    sample. Returns the per-layer metrics as {name: (value, unit)}."""
    tr = probes.Tracer(f"{b.args.workload}-s{b.args.seed}-{os.getpid()}"
                       f"-{int(time.time())}")
    evdir = b.work / "eventlog"
    shutil.rmtree(evdir, ignore_errors=True)
    with tr.span("perfbench.run", layer="perfbench") as run_span:
        root = run_span.id
        b.log("set-up (launches the JVM)")
        b.start()
        b.log("prepare input and oracle")
        with tr.span("inputs.prepare", layer="perfbench"):
            b.prepare()
        b.log("untraced repetitions")
        untraced = [r["wall"] for r in b.timed_reps()]
        b.log("event log on; session restart")
        b.enable_eventlog(evdir)
        b.start()
        arrow_batch = int(b.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        for t0, t1, t2 in b.setups:
            tr.add("session.start", t0, t1, root, layer="session")
            tr.add("session.warm", t1, t2, root, layer="session")

        b.log("traced full call")
        full = b.rep()
        facts = _output_facts(b)
        rc = tr.add("checkpoint.run_checkpointed", full["t0"], full["t1"],
                    root, layer="checkpoint", call="full")
        with tr.span("checkpoint.noop_reruns", layer="checkpoint"):
            noop = b.noop_reruns(b.read_input(), b.NOOP_RERUNS)
        b.log("traced resume call")
        resume = b.rep(resume=True)
        rc_resume = tr.add("checkpoint.run_checkpointed", resume["t0"],
                           resume["t1"], root, layer="checkpoint",
                           call="resume")
        b.log("layer legs")
        legs = _legs(b, tr)
        b.stop()
        b.log("in-process htmldom sample (session stopped)")
        dom = _htmldom(b, tr)

    ev = probes.EventLog(probes.read_events(evdir))
    ph = attribute(ev, tr, rc, full["t0"], full["t1"])
    ph_resume = attribute(ev, tr, rc_resume, resume["t0"], resume["t1"])
    stage_rows = {r["stage"]: r for r in b.prog.parse_events(evdir)}

    def stage_metrics(prefix, ids):
        rows = [stage_rows[i] for i in ids if i in stage_rows]
        ext = ev.stage_totals(ids)
        return {f"{prefix}.task_s": (sum(r["task_s"] for r in rows), "s"),
                f"{prefix}.cpu_s": (sum(r["cpu_s"] for r in rows), "s"),
                f"{prefix}.gc_s": (sum(r["gc_s"] for r in rows), "s"),
                f"{prefix}.spill_mb": (ext["spill_mb"], "MB"),
                f"{prefix}.failed_tasks": (ext["failed_tasks"], "count")}

    k = ev.stages[ph["kernel"][0]]
    k_tasks = ev.tasks[k["id"]]
    uncommitted_rows = sum(n for p, (n, _) in b.expected.items()
                           if p not in resume["skipped"])
    rewritten_rows = sum(b.expected[p][0] for p in resume["rewritten"])
    floor_s = (b.oracle["input_bytes"] / 1e6) / (
        dom["fused_mb_per_s_core"] * b.cores)
    # the set-up that launched the JVM, as setup_s measures it
    s0, s1, s2 = b.setups[0]
    m = {
        "session.start_s": (s1 - s0, "s"),
        "session.warm_s": (s2 - s1, "s"),
        "process.peak_rss_mb": (full["rss_mb"], "MB"),
        "scan.s": (legs["scan"], "s"),
        "scan.input_mb": (sum(p.stat().st_size for p in
                              Path(b.table).glob("*.parquet")) / 1e6, "MB"),
        "kernel.crossing_arrow_s": (legs["crossing_arrow"] - legs["scan"],
                                    "s"),
        "kernel.crossing_pandas_s": (legs["crossing_pandas"] - legs["scan"],
                                     "s"),
        "kernel.stage_s": (legs["stage"], "s"),
        "kernel.self_s": (legs["stage"] - legs["crossing_pandas"], "s"),
        "kernel.py_sent_mb": (k["py_sent"] / 1e6, "MB"),
        "kernel.py_received_mb": (k["py_returned"] / 1e6, "MB"),
        "kernel.batches": (sum(math.ceil(t["records_in"] / arrow_batch)
                               for t in k_tasks), "count"),
        "htmldom.fused_mb_per_s_core": (dom["fused_mb_per_s_core"], "MB/s"),
        "htmldom.fused_turns_per_s_core": (dom["fused_turns_per_s_core"],
                                           "1/s"),
        "htmldom.docpath_mb_per_s_core": (dom["docpath_mb_per_s_core"],
                                          "MB/s"),
        "htmldom.n_nodes": (facts["n_nodes"], "count"),
        "htmldom.n_errors": (facts["n_errors"], "count"),
        "htmldom.wall_over_floor": (statistics.median(untraced) / floor_s,
                                    "ratio"),
        "checkpoint.resume_plan_s": (ph_resume["resume_plan_s"], "s"),
        "checkpoint.resume_s": (resume["wall"], "s"),
        "checkpoint.noop_rerun_s": (statistics.median(noop), "s"),
        "checkpoint.exchange_mb": (ev.stage_totals(ph["kernel"])
                                   ["shuffle_write_mb"], "MB"),
        "checkpoint.write_stage_s": (ph["write_stage_s"], "s"),
        "checkpoint.write_task_max_over_median": (
            ev.task_max_over_median(ph["write"]), "ratio"),
        "checkpoint.lineage_s": (ph["lineage_s"], "s"),
        "checkpoint.manifest_append_s": (ph["manifest_append_s"], "s"),
        "checkpoint.files_written": (facts["files_written"], "count"),
        "checkpoint.out_bytes_per_in_byte": (facts["out_bytes_per_in_byte"],
                                             "ratio"),
        "checkpoint.rows_reprocessed_ratio": (
            (sum(r.n_rows for r in resume["rows"]) + rewritten_rows)
            / uncommitted_rows, "ratio"),
        "checkpoint.buckets_skipped": (len(resume["skipped"]), "count"),
        **stage_metrics("stage.kernel", ph["kernel"]),
        **stage_metrics("stage.write", ph["write"]),
        **stage_metrics("stage.lineage", ph["lineage"]),
        "trace.attributed_frac": (tr.covered(rc) / tr.duration(rc), "ratio"),
        # against the last untraced repetition, the nearest one on the
        # JVM's warm-up curve (the traced call comes after it)
        "trace.overhead": (full["wall"] / untraced[-1], "ratio"),
        "trace.wall_s": (full["wall"], "s"),
        "trace.untraced_wall_s": (statistics.median(untraced), "s"),
        "failed_frac": (b.failed / max(b.attempted, 1), "ratio"),
    }
    trace_dir = b.work / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    trace_file = trace_dir / f"{tr.trace_id}.json"
    tr.write(trace_file)
    b.samples = {"layer_self_s": tr.self_times(),
                 "trace_file": str(trace_file)}
    return m
