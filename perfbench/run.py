"""KG-construction benchmark.

    python3 perfbench/run.py --workload long_files --seed 1 --seconds 10 --trace 0

Workloads: ``long_files``, ``resume_delta`` (the two in BENCHMARK.json)
and ``cold_build`` (run by hand). Runs the production job
(``jobs.run_job``: read the source table, run ``pipeline.run_pipeline``,
commit five tables) in a closed loop with one client, one job at a time,
on ``local[nproc]`` with a fixed 2g driver heap, over inputs generated from
``--seed`` (``gen.py``). After set-up, the oracle's reference run
(untimed) warms the JVM further; then timed jobs run for ``--seconds``
and at least ``MIN_JOBS`` times, and ``job_s`` is their median. Every timed job is checked
against the reference (``oracle.py``) after the timed interval.

``--trace 0`` prints the end-to-end metrics: ``setup_s``, ``job_s``
(median), ``triples_per_s`` (median), ``peak_rss_mb`` (over the timed
jobs), and on the summary line also ``error_rate``.
``--trace 1`` prints the per-layer metrics of a separate traced run
(``layers.json`` maps each to the end-to-end metric it should move).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it give the host record,
the input record and the job-time quartiles. Work files live under
``.perfbench_work/`` in the checkout and are removed at exit, except
``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, replace
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "spacy_llm_spark")
# timed jobs per run, even if --seconds runs out first. Job times still
# fall from job to job over the first ~20 jobs of a session (JIT), so
# --seconds is set short enough that a run times exactly MIN_JOBS jobs:
# their median is then taken at the same point of that curve in every
# run, however fast the host is at the time
MIN_JOBS = 4
MAX_JOBS = 50


@dataclass(frozen=True)
class Workload:
    why: str
    shape: object  # gen.Shape
    tiny: object  # gen.Shape for the self-test
    context_length: Optional[int]
    checkpoint: str  # "none"; "fresh": empty dir per job; "base": restored base
    sample_docs: int  # documents in the kernel sampler's fixed sample
    scaling: bool  # the traced run measures engine.scaling_eff_1to4


def workloads():
    from gen import Shape

    return {
        "cold_build": Workload(
            why="short files, 25% exact copies, 30% mega-repo; no checkpoint, "
            "no sharding: the default job, dominated by operators.fused",
            shape=Shape(3000, copy_share=0.25),
            tiny=Shape(120, copy_share=0.25),
            context_length=None,
            checkpoint="none",
            sample_docs=64,
            scaling=True,
        ),
        "long_files": Workload(
            why="distinct ~1.5k-word files sharded at context_length=512, fresh "
            "empty checkpoint per job: sharding fan-out and checkpoint writes",
            shape=Shape(20, long_words=1500),
            tiny=Shape(6, long_words=600),
            context_length=512,
            checkpoint="fresh",
            sample_docs=4,
            scaling=False,
        ),
        "resume_delta": Workload(
            why="short base files resumed from their checkpoint, +10% new and "
            "+10% re-delivered base content: the checkpoint read path",
            shape=Shape(1500, delta_share=0.1),
            tiny=Shape(100, delta_share=0.1),
            context_length=None,
            checkpoint="base",
            sample_docs=64,
            scaling=True,
        ),
    }


def host_record() -> dict:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(PACKAGE)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_1m_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
    }


def per_layer_metrics() -> List[dict]:
    """Per-layer metric names, units and directions (``layers.json``)."""
    with open(os.path.join(HERE, "layers.json")) as f:
        return [m for layer in json.load(f)["layers"] for m in layer["metrics"]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quartiles(values: List[float]) -> dict:
    if len(values) >= 2:
        q1, q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q2 = q3 = values[0]
    return {"n": len(values), "q1": q1, "median": statistics.median(values), "q3": q3}


def dir_bytes(path: str) -> tuple:
    """(bytes, data files) under ``path``; Spark's .crc side files and
    markers are not counted."""
    total = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(base, name))
            files += 1
    return total, files


class Bench:
    """One benchmark run: session, inputs, jobs, oracle, metrics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = workloads()[args.workload]
        self.n = nproc()
        self.spark = None
        self.jvm = None
        self.failed = 0
        self.attempted = 0
        self.outputs = []  # JobOutput of every timed job, checked at the end
        self.job_seconds: List[float] = []
        self.triples: List[int] = []

    # -- session -----------------------------------------------------------

    def start(self, cores: int, event_log: Optional[str] = None):
        from spacy_llm_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # initial heap = maximum: a heap still growing in the timed jobs
            # made job_s drift down from job to job and peak_rss_mb vary by
            # run (1.25-1.96 GB for the JVM on the same input)
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={self.work}/tmp",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + event_log
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm is None:
            from pyspark import SparkContext

            self.jvm = SparkContext._gateway.proc  # noqa: SLF001

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop Spark and wait for the JVM (and its Python workers)."""
        self.stop_session()
        if self.jvm is None:
            return
        from pyspark import SparkContext

        if SparkContext._gateway is not None:  # noqa: SLF001
            SparkContext._gateway.shutdown()  # noqa: SLF001
            SparkContext._gateway = None  # noqa: SLF001
            SparkContext._jvm = None  # noqa: SLF001
        if self.jvm.stdin:
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(timeout=30)

    # -- jobs --------------------------------------------------------------

    def config(self, ckpt_dir: Optional[str] = None):
        from spacy_llm_spark.pipeline import KGConfig

        return KGConfig(context_length=self.wl.context_length, checkpoint_dir=ckpt_dir)

    def prepare(self, tag: str):
        """Untimed per-job preparation: a fresh output dir and, by the
        workload's checkpoint mode, an empty checkpoint dir or the base
        checkpoint restored untouched."""
        out = os.path.join(self.work, "out", tag)
        shutil.rmtree(out, ignore_errors=True)
        cfg = self.config()
        if self.wl.checkpoint != "none":
            ckpt = os.path.join(self.work, "ckpt")
            shutil.rmtree(ckpt, ignore_errors=True)
            if self.wl.checkpoint == "base":
                shutil.copytree(self.pristine, ckpt)
            cfg = self.config(ckpt)
        return out, cfg

    def setup(self, event_log: Optional[str] = None) -> float:
        """Session start, input generation and load, and one untimed
        warm-up job (for ``base`` workloads, the job that builds the base
        checkpoint)."""
        import gen
        from jobs import run_job
        from spacy_llm_spark.sources.readers import read_corpus_table

        t0 = time.perf_counter()
        self.start(self.n, event_log)
        shape = self.wl.tiny if self.args.size == "tiny" else self.wl.shape
        self.inputs = inputs = gen.generate(
            self.args.workload, shape, self.args.seed, os.path.join(self.work, "in"), self.n
        )
        read_corpus_table(self.spark, inputs.table).count()
        if self.wl.checkpoint == "base":
            # building the base checkpoint is the warm-up job: the same
            # code path (extraction, checkpoint write, tables, sinks)
            self.pristine = os.path.join(self.work, "ckpt_base")
            run_job(
                self.spark, inputs.base_table, self.config(self.pristine),
                os.path.join(self.work, "out", "base"),
            )
        else:
            out, cfg = self.prepare("warmup")
            run_job(self.spark, inputs.table, cfg, out)
        return time.perf_counter() - t0

    def warm_up(self):
        """Untimed, after set-up and outside ``setup_s``: the oracle's
        reference run. The first jobs of a session run up to ~30% slower
        than later ones (JIT); this run takes part of that."""
        import oracle

        self.ref = oracle.build_reference(
            self.spark, self.inputs, self.config(), os.path.join(self.work, "reference")
        )

    def timed_jobs(self, seconds: float, min_jobs: int, tracer=None) -> List[float]:
        """Closed loop: the next job starts when the previous one ended."""
        from jobs import run_job, run_traced_job

        times = []
        t_end = time.perf_counter() + seconds
        while (len(times) < min_jobs or time.perf_counter() < t_end) and len(times) < MAX_JOBS:
            tag = f"{'traced' if tracer else 'job'}-{len(times)}"
            out, cfg = self.prepare(tag)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    job = run_job(self.spark, self.inputs.table, cfg, out)
                else:
                    tracer.run_id = tag
                    job = run_traced_job(self.spark, self.inputs.table, cfg, out, tracer)
            except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                continue
            dt = time.perf_counter() - t0
            times.append(dt)
            self.job_seconds.append(dt)
            self.triples.append(job.n_triples)
            if tracer is not None:
                self.traced_extra(tag, cfg, job)
            self.outputs.append(job)
        return times

    def traced_extra(self, tag: str, cfg, job):
        """Per-run byte counts of the traced job's writes."""
        sink_bytes, sink_files = dir_bytes(job.out_dir)
        ckpt_bytes = 0
        if cfg.checkpoint_dir:
            ckpt_bytes = dir_bytes(cfg.checkpoint_dir)[0]
        if self.wl.checkpoint == "base":
            ckpt_bytes -= dir_bytes(self.pristine)[0]
        self.tracer.counts[tag].update(
            {
                "sinks.bytes_written": sink_bytes,
                "sinks.files_written": sink_files,
                "checkpoint.bytes_written": ckpt_bytes,
            }
        )

    # -- oracle ------------------------------------------------------------

    def check(self) -> List[str]:
        import oracle

        if self.args.corrupt and self.outputs:
            self.corrupt(self.outputs[0].out_dir)
        problems = []
        found_all = oracle.check_jobs(self.inputs, self.ref, self.outputs)
        for job, found in zip(self.outputs, found_all):
            if found:
                self.failed += 1
                problems.append(f"{os.path.basename(job.out_dir)}: " + "; ".join(found))
        return problems

    def corrupt(self, out_dir: str):
        """Self-test hook: drop one edge from a committed output."""
        path = os.path.join(out_dir, "canonical_edges")
        df = self.spark.read.parquet(path)
        victim = df.orderBy(*df.columns).limit(1)
        kept = df.exceptAll(victim).localCheckpoint()
        kept.write.mode("overwrite").parquet(path)

    # -- traced run ----------------------------------------------------------

    def run_traced(self, seconds: float) -> Dict[str, float]:
        from kernels import sample_kernels
        from tracing import Tracer, read_event_log

        event_log = os.path.join(self.work, "eventlog")
        self.setup(event_log)
        self.warm_up()
        untraced = self.timed_jobs(seconds / 2, 2)
        self.tracer = Tracer(self.spark)
        traced = self.timed_jobs(seconds / 2, 2, self.tracer)
        problems = self.check()
        sample = sorted(zip(self.inputs.content_sha256, self.inputs.contents))
        texts = [text for _, text in sample[: self.wl.sample_docs]]
        kernel_tracer = Tracer()
        kernel_tracer.run_id = "kernels"
        metrics = sample_kernels(texts, self.config(), kernel_tracer)
        self.stop_session()
        groups = read_event_log(event_log)
        metrics.update(self.layer_metrics(groups))
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        # the BASELINE N -> 4N target; 0 on workloads that do not measure it
        metrics["engine.scaling_eff_1to4"] = (
            self.scaling(statistics.median(untraced)) if self.wl.scaling else 0.0
        )
        self.tracer.spans.extend(kernel_tracer.spans)
        self.tracer.dump(os.path.join(self.records, "spans.json"))
        return metrics, problems

    def scaling(self, t_n: float) -> float:
        """Scaling efficiency local[1] -> local[nproc]: t1 / (nproc * tN).
        The local[1] session runs in the JVM the traced run warmed, so
        it gets no warm-up job of its own."""
        from jobs import run_job

        self.start(1)
        out, cfg = self.prepare("scaling")
        t0 = time.perf_counter()
        run_job(self.spark, self.inputs.table, cfg, out)
        t1 = time.perf_counter() - t0
        self.stop_session()
        return t1 / (self.n * t_n)

    def layer_metrics(self, groups) -> Dict[str, float]:
        """Per traced job: span times, event-log task metrics per job
        group, counters; the median over traced jobs is reported."""
        tr = self.tracer
        per_run = []
        for run_id, counts in tr.counts.items():
            def span_s(name):
                return sum(s.seconds for s in tr.of(name, run_id))

            def group(*names):
                from tracing import GroupMetrics

                out = GroupMetrics()
                runs = []
                for name in names:
                    g = groups.get(f"{run_id}/{name}")
                    if g is None:
                        continue
                    out.tasks += g.tasks
                    out.run_s += g.run_s
                    out.shuffle_write_bytes += g.shuffle_write_bytes
                    out.spill_bytes += g.spill_bytes
                    runs.extend(g.task_run_s)
                out.task_run_s = tuple(runs)
                return out

            fused = group("operators.fused")
            layers = {
                "fused": fused,
                "checkpoint": group("operators.checkpoint"),
                "materialize": group("operators.materialize"),
                "canonicalize": group(
                    "operators.canonicalize", "canonicalize.vertices", "canonicalize.edges"
                ),
                "sinks": group("sources.sinks"),
            }
            busy = span_s("operators.fused")
            stage = self.stage_of(run_id)
            m = {
                "fused.busy_s": busy,
                "fused.task_time_s": fused.run_s,
                "fused.busy_share": fused.run_s / (busy * self.n) if busy else 0.0,
                "fused.task_skew": fused.skew,
                "checkpoint.run_stage_s": span_s("operators.checkpoint"),
                "checkpoint.rows_in": stage[0],
                "checkpoint.cache_hits": stage[1],
                "checkpoint.rows_processed": stage[2],
                "checkpoint.hit_ratio": stage[1] / stage[0] if stage[0] else 0.0,
                "checkpoint.shuffle_bytes": layers["checkpoint"].shuffle_write_bytes,
                "materialize.s": span_s("operators.materialize"),
                "canonicalize.vertices_s": span_s("canonicalize.vertices"),
                "canonicalize.edges_s": span_s("canonicalize.edges"),
                "canonicalize.shuffle_bytes": layers["canonicalize"].shuffle_write_bytes,
                "sinks.write_s": span_s("sources.sinks"),
                "pipeline.self_s": tr.self_seconds("pipeline", run_id),
            }
            for name, g in layers.items():
                m[f"{name}.shuffle_write_bytes"] = g.shuffle_write_bytes
                m[f"{name}.spill_bytes"] = g.spill_bytes
                m[f"{name}.tasks"] = g.tasks
            m.update(counts)
            per_run.append(m)
        return {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}

    def stage_of(self, run_id: str) -> tuple:
        for job in self.outputs:
            if os.path.basename(job.out_dir) == run_id:
                return job.stage or (0, 0, 0)
        return (0, 0, 0)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(workloads()))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("full", "tiny"), default="full",
                        help="tiny: self-test inputs")
    parser.add_argument("--corrupt", action="store_true",
                        help="self-test: drop one edge from the first job's output")
    args = parser.parse_args(argv)
    if args.seconds <= 0:
        parser.error("--seconds must be positive")
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench_work", "records", os.path.basename(work))
    for d in (work, records, os.path.join(work, "tmp"), os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the work dir, and let the workers import the package
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    host = host_record()
    bench = Bench(args, work)
    bench.records = records
    from tracing import peak_rss_mb, reset_peak_rss

    phases = {}  # wall seconds of each phase of this run
    rss_by_pid = {}
    t = time.perf_counter()
    try:
        if args.trace:
            metrics, problems = bench.run_traced(args.seconds)
        else:
            setup_s = bench.setup()
            phases["setup"] = time.perf_counter() - t
            bench.warm_up()
            phases["warm_up"] = time.perf_counter() - t - phases["setup"]
            reset_peak_rss(bench.jvm.pid)
            bench.timed_jobs(args.seconds, MIN_JOBS)
            phases["jobs"] = time.perf_counter() - t - phases["setup"] - phases["warm_up"]
            peak, rss_by_pid = peak_rss_mb(bench.jvm.pid)
            problems = bench.check()
            phases["check"] = time.perf_counter() - t - sum(phases.values())
            metrics = None
    except Exception:  # noqa: BLE001 — report on stderr, print no result
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        phases["until_shutdown"] = time.perf_counter() - t
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        phases["total"] = time.perf_counter() - t
    if not bench.job_seconds:
        print("perfbench: no job completed", file=sys.stderr)
        return 1

    host["loadavg_1m_end"] = os.getloadavg()[0]
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    if metrics is None:
        tput = [t / s for t, s in zip(bench.triples, bench.job_seconds)]
        values = {
            "setup_s": (setup_s, "s"),
            "job_s": (statistics.median(bench.job_seconds), "s"),
            "triples_per_s": (statistics.median(tput), "1/s"),
            "peak_rss_mb": (peak, "MB"),
        }
    else:
        units = {m["name"]: m["unit"] for m in per_layer_metrics()}
        values = {k: (float(metrics[k]), units[k]) for k in units}
    error_rate = bench.failed / bench.attempted
    record = {
        "host": host,
        "inputs": bench.inputs.record(),
        "job_s": quartiles(bench.job_seconds),
        "job_s_all": bench.job_seconds,
        "error_rate": error_rate,
        "problems": problems,
        "phases_s": phases,
        "peak_rss_mb_by_pid": rss_by_pid,
    }
    with open(os.path.join(records, "result.json"), "w") as f:
        json.dump({**record, "metrics": values}, f, indent=1)
    print(json.dumps({"host": host}))
    print(json.dumps({"inputs": record["inputs"], "job_s": record["job_s"],
                      "phases_s": phases, "records": records}))
    print("  ".join(f"{k}={v:.6g} {u}" for k, (v, u) in values.items())
          + f"  error_rate={error_rate:.6g} 1")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
