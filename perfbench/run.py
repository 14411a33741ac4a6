"""KG-build benchmark for ner_spark.

    python3 perfbench/run.py --workload chat_turns --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) as a closed loop: one client
issues one pipeline call at a time on a ``local[<cores>]`` session.
An operation is a sequence of calls, each checked against the Spark-free
oracle (``oracle.py``); a failed check or an exception counts as a
failed call:

* the build — ``run_pipeline`` (all nine manifest stages) into a fresh
  output dir; on ``delta_merge``, ``run_incremental`` of the delta into
  a fresh copy of the published base;
* ``REPEATS`` extract slices of ``run_pipeline.py`` —
  ``verify_executor_weights`` → ``build_mentions`` →
  ``mentions_to_triples`` → parquet write — over the base input turns.

The resume (the build call again on the completed run id, so every
stage resumes) is timed in the traced run only: about 4 s of some twenty
small Spark jobs, its single untraced sample per run spread too widely
between runs to bound.

Operations repeat until ``--seconds`` have passed (at least one). One
operation takes about 25 s on a 4-core host, longer than the configured
run time, so a run holds one operation: the per-run budget of the
benchmark (about a minute, most of it JVM start and cold-session warm-up)
leaves room for no more. Inputs and oracle outputs are built and cached
before the session starts.

Set-up is the session start plus one untimed warm pass, measured once
per run because the JVM starts once per process. On ``delta_merge`` the
warm pass is the publish of the base (a full cold build, about 35 s on a
4-core host). On ``chat_turns`` it is the extract slice over a separate
300-turn input: it starts the Python workers, loads the model and
compiles the tag+extract path, the largest part of a cold build's
penalty. The rest — first-time plan compilation of the later stages,
about 10 s on a 4-core host (a chat_turns build measures about 28 s,
a traced build after it about 18 s) — stays inside the measured build:
a full warm build would add about 25 s to every run, more than the
benchmark's run budget holds.

``--trace 0`` prints the end-to-end metrics (medians over the run's
calls):

  build_s              s        wall time of the build call
  extract_turns_per_s  turns/s  base turns / extract-slice time
  setup_s              s        session start + warm pass
  worker_peak_rss_mb   MB       max VmHWM over the Python workers at the end
  shuffle_write_mb     MB       shuffle bytes written by the build's jobs

``--trace 1`` runs one untraced build on ``chat_turns`` (it absorbs the
plan compilation its warm pass leaves), a traced build and a traced
resume (``spans.py``: spans around the public layer functions, one Spark
job group per span, counters from the status store), one more untraced
build as the reference for the tracing overhead, then the driver-side
tagger micro-run (``micro.py``), and prints the per-layer metrics:

  pipeline.<stage>.{wall_s,self_s,jobs,tasks,executor_s,shuffle_write_mb,spill_mb}
      per manifest stage of the traced build; self = span minus its
      children; counters include the children's jobs. A stage the call
      does not run (``link_edges`` under ``run_incremental``) reads 0.
  model.tagger.{logits_s,viterbi_s,names_s,memo_entries},
  operators.extraction.spans_s
      1-core micro-run over the same turns the build tags.
  operators.tagging.arrow_overhead_s
      mentions-stage executor time minus the micro-run's UDF body time.
  operators.linking.{link_edges_s,surface_nodes,candidate_pairs,edges_per_candidate}
      link call span (the LSH join itself runs lazily inside the
      link_edges stage, or inside CC on delta_merge); surface nodes
      published; LSH candidate pairs and the share that pass the
      Jaccard threshold (delta_merge: pairs touching a new node).
  operators.components.{cc_s,edges,distributed}
      CC call span; CC input edges; 1 if above LOCAL_SOLVE_MAX_EDGES.
  operators.manifest.{stage_complete_s,stage_complete_calls,publish_s,manifest_files}
      over the traced build and resume.
  operators.manifest.resume_s
      wall time of the traced resume call.
  operators.incremental.update_s, model.artifact.verify_s,
  session.start_s, warm_pass_s
  trace.overhead_s   traced build call span minus the later untraced build
                     (the later build runs on a warmer JVM, so this
                     reads high rather than low)
  trace.gap_s        traced build wall not covered by top-level spans

Before the result it prints a record line (host cores, pyspark
version, input turns, per-stage rows) and, traced, the self-time table.
The last stdout line is the JSON result. Everything written goes under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# extract slices per operation; the metric is their median
REPEATS = 2

STAGES = (
    "mentions", "triples", "relations", "surface_nodes", "link_edges",
    "assignment", "nodes", "edges", "canonical_triples",
)


def _host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _configure_env(run_dir: str) -> dict:
    """Host-sized session settings; every scratch path inside the work dir."""
    cores = os.cpu_count() or 1
    mem_g = max(1, min(4, int(_host_memory_gb() // 4)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_g}g"
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "driver_mem": f"{mem_g}g",
        "conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    }


# -- reading published outputs (pyarrow, no Spark) -----------------------


def _rows(path: str, cols: list[str]) -> set:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols).to_pydict()
    return set(zip(*(t[c] for c in cols)))


def _stage(out: str, run_id: str, stage: str) -> str:
    from ner_spark.operators.manifest import stage_data_path

    return stage_data_path(out, run_id, stage)


def _manifest_files(out: str) -> int:
    d = os.path.join(out, "manifest")
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


def _stage_rows(out: str, run_id: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out, "manifest")).to_pydict()
    rows: dict[str, int] = {}
    for r, st, part, n, status in zip(
        t["run_id"], t["stage"], t["partition_id"], t["rows"], t["status"]
    ):
        if r == run_id and status == "complete" and part >= 0:
            rows[st] = rows.get(st, 0) + n
    return rows


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _worker_peak_rss_mb(jvm_pid: int) -> float:
    peak = 0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024


class Bench:
    def __init__(self, args, meta: dict, env: dict, run_dir: str):
        self.args, self.meta, self.env, self.run_dir = args, meta, env, run_dir
        self.workload = args.workload
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {}
        self._n = 0
        self.spark = None
        self.jvm_pid = None

    # -- helpers ----------------------------------------------------------
    def _fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.run_dir, f"{self._n:03d}-{name}")

    def _sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(v)

    def _check(self, name: str, check) -> None:
        """Count one attempted call; a failed or raising check fails it."""
        self.attempted += 1
        try:
            ok = check()
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: output check failed for {name}", file=sys.stderr)
            self.failed += 1

    def _call(self, name: str, fn, check) -> tuple[float | None, str]:
        """Run one timed, checked call under its own Spark job group;
        returns (wall time or None if it raised, job group)."""
        group = f"{self._n}/{name}"
        self.spark.sparkContext.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return None, group
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self._check(name, check)
        return wall, group

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from ner_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            master=self.env["master"], app_name="perfbench", extra_conf=self.env["conf"]
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.base_df = self.spark.read.parquet(self.meta["base_path"])
        if self.workload == "delta_merge":
            self.delta_df = self.spark.read.parquet(self.meta["delta_path"])
            self.base_dir = self._fresh("base")
            self._run_pipeline(self.base_dir, self.base_df, "base")
        else:
            warm_df = self.spark.read.parquet(self.meta["warm_path"])
            self._extract(warm_df, os.path.join(self._fresh("warm"), "triples"))
        t2 = time.perf_counter()
        self.info["session_start_s"] = t1 - t0
        self.info["warm_pass_s"] = t2 - t1
        self.info["setup_s"] = t2 - t0

    def _extract(self, df, path: str) -> None:
        """The extract slice of ``run_pipeline.py``: verify the executors'
        weights, tag+extract, write the triples parquet."""
        from ner_spark.model.artifact import verify_executor_weights
        from ner_spark.operators.extraction import mentions_to_triples
        from ner_spark.pipeline import build_mentions

        verify_executor_weights(self.spark)
        mentions_to_triples(build_mentions(df)).write.mode("overwrite").parquet(path)

    def _run_pipeline(self, out: str, df, run_id: str):
        from ner_spark.pipeline import PipelineConfig, run_pipeline

        return run_pipeline(self.spark, df, PipelineConfig(out_dir=out, run_id=run_id))

    # -- the measured calls ---------------------------------------------------
    def _build_fn(self, out: str):
        """(call, check) for the workload's build into ``out``."""
        from ner_spark.pipeline import PipelineConfig, run_incremental

        o = self.meta["oracle"]
        if self.workload == "delta_merge":
            shutil.copytree(self.base_dir, out)
            cfg = PipelineConfig(out_dir=out, run_id="delta")

            def call():
                run_incremental(self.spark, self.delta_df, cfg, base_run_id="base")

            def check():
                return _rows(_stage(out, "delta", "nodes"), [
                    "entity_id", "entity_type", "canonical_name", "n_surfaces", "n_mentions"
                ]) == o["nodes"] and _rows(_stage(out, "delta", "edges"), [
                    "src_entity", "pred", "dst_entity", "n_turns"
                ]) == o["edges"]

            return call, check, "delta"

        def call():
            self._run_pipeline(out, self.base_df, "run")

        def check():
            return (
                _rows(_stage(out, "run", "triples"), ["conv_id", "turn_idx", "subj", "pred", "obj"])
                == o["triples"]
                and _rows(_stage(out, "run", "link_edges"), ["node_a", "node_b"]) == o["link_edges"]
                and _rows(_stage(out, "run", "assignment"), ["node_id", "component"])
                == o["assignment"]
            )

        return call, check, "run"

    def op(self) -> None:
        """One operation: build, extract slices — each timed and checked."""
        out = self._fresh("kg")
        call, check, run_id = self._build_fn(out)
        w, group = self._call("build", call, check)
        if w is not None:
            from spans import job_counters

            self._sample("build_s", w)
            c = job_counters(self.spark, [group])[group]
            self._sample("shuffle_write_mb", c["shuffle_write_bytes"] / 1e6)
            self.info.setdefault("stage_rows", _stage_rows(out, run_id))

        for _ in range(REPEATS):
            path = os.path.join(self._fresh("slice"), "triples")

            def slice_check():
                cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
                return _rows(path, cols) == self.meta["base_triples"]

            w, _ = self._call("extract", lambda: self._extract(self.base_df, path), slice_check)
            if w is not None:
                self._sample("extract_turns_per_s", self.meta["base_turns"] / w)

    def end_to_end(self) -> dict:
        t_start = time.perf_counter()
        while True:
            self.op()
            if time.perf_counter() - t_start >= self.args.seconds:
                break

        def median(name: str) -> float | None:
            # every call of this kind raised: report no value (the failed
            # calls are counted, so the result reads correct: false)
            v = self.samples.get(name)
            return statistics.median(v) if v else None

        m = {
            "build_s": ("s", median("build_s")),
            "extract_turns_per_s": ("turns/s", median("extract_turns_per_s")),
            "setup_s": ("s", self.info["setup_s"]),
            "worker_peak_rss_mb": ("MB", _worker_peak_rss_mb(self.jvm_pid)),
            "shuffle_write_mb": ("MB", median("shuffle_write_mb")),
        }
        self.info["samples"] = self.samples
        return m

    # -- traced run -----------------------------------------------------------
    def traced(self) -> dict:
        from micro import tagger_layers
        from spans import Tracer

        from ner_spark.operators.components import LOCAL_SOLVE_MAX_EDGES

        # chat_turns' warm pass compiles only the extract path, so its
        # first build pays the later stages' plan compilation: run one
        # untraced so the traced and the reference build both run warm.
        # delta_merge's warm pass is a full build already.
        if self.workload != "delta_merge":
            call, check, _ = self._build_fn(self._fresh("kg"))
            self._call("build", call, check)

        out = self._fresh("kg")
        call, check, run_id = self._build_fn(out)
        tracer = Tracer(self.spark)
        with tracer:
            for rid in ("build", "resume"):
                tracer.run_id = rid
                self.attempted += 1
                with tracer.span(f"call.{rid}") as top:
                    call()
                tracer.read_counters(rid)
                if rid == "build":
                    traced_s = top.wall
                    n_files = _manifest_files(out)
                    ok = check()
                else:
                    ok = _manifest_files(out) == n_files
                if not ok:
                    print(f"perfbench: output check failed for traced {rid}", file=sys.stderr)
                    self.failed += 1
                if rid == "build":
                    build_top = top
        call, check, _ = self._build_fn(self._fresh("kg"))
        untraced_s, _ = self._call("build", call, check)

        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        span_file = os.path.join(
            WORK, "traces", f"{self.workload}-seed{self.args.seed}.jsonl"
        )
        tracer.write(span_file)
        self.info["span_file"] = os.path.relpath(span_file, ROOT)
        self.info["stage_rows"] = _stage_rows(out, run_id)

        def spans(name: str, rid: str = "build"):
            return [s for s in tracer.spans if s.name == name and s.run_id == rid]

        def wall(name: str, rids=("build",)) -> float:
            return sum(s.wall for r in rids for s in spans(name, r))

        m: dict[str, tuple[str, float]] = {}
        by_stage = {s.stage: s for s in spans("pipeline.run_stage")}
        for st in STAGES:
            sp = by_stage.get(st)
            tot = (lambda k: tracer.total(sp, k)) if sp else (lambda k: 0)
            m[f"pipeline.{st}.wall_s"] = ("s", sp.wall if sp else 0.0)
            m[f"pipeline.{st}.self_s"] = ("s", tracer.self_time(sp) if sp else 0.0)
            m[f"pipeline.{st}.jobs"] = ("count", tot("jobs"))
            m[f"pipeline.{st}.tasks"] = ("count", tot("tasks"))
            m[f"pipeline.{st}.executor_s"] = ("s", tot("executor_ms") / 1e3)
            m[f"pipeline.{st}.shuffle_write_mb"] = ("MB", tot("shuffle_write_bytes") / 1e6)
            m[f"pipeline.{st}.spill_mb"] = ("MB", tot("spill_bytes") / 1e6)

        import pyarrow.parquet as pq

        # the turns the build tags: the delta's under run_incremental
        path = self.meta["delta_path" if self.workload == "delta_merge" else "base_path"]
        texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        tl = tagger_layers(texts, batch)
        m["model.tagger.logits_s"] = ("s", tl["logits"])
        m["model.tagger.viterbi_s"] = ("s", tl["viterbi"])
        m["model.tagger.names_s"] = ("s", tl["names"])
        m["model.tagger.memo_entries"] = ("count", tl["memo_entries"])
        m["operators.extraction.spans_s"] = ("s", tl["spans"])
        body = sum(tl[k] for k in ("tokenize", "logits", "viterbi", "names", "spans"))
        m["operators.tagging.arrow_overhead_s"] = ("s", m["pipeline.mentions.executor_s"][1] - body)

        o = self.meta["oracle"]
        if self.workload == "delta_merge":
            old = self.meta["base_nodes"]
            cand = sum(1 for a, b in o["candidates"] if a not in old or b not in old)
            links = sum(1 for a, b in o["link_edges"] if a not in old or b not in old)
            cc_edges = links + self.meta["base_stars"]
            link_s = wall("operators.linking.delta_link_edges")
        else:
            cand, links = len(o["candidates"]), len(o["link_edges"])
            cc_edges = links
            link_s = wall("operators.linking.link_edges")
        m["operators.linking.link_edges_s"] = ("s", link_s)
        m["operators.linking.surface_nodes"] = ("count", self.info["stage_rows"]["surface_nodes"])
        m["operators.linking.candidate_pairs"] = ("count", cand)
        m["operators.linking.edges_per_candidate"] = ("ratio", links / cand if cand else 0.0)
        m["operators.components.cc_s"] = ("s", wall("operators.components.connected_components"))
        m["operators.components.edges"] = ("count", cc_edges)
        m["operators.components.distributed"] = ("bool", float(cc_edges > LOCAL_SOLVE_MAX_EDGES))
        both = ("build", "resume")
        m["operators.manifest.stage_complete_s"] = ("s", wall("operators.manifest.stage_complete", both))
        m["operators.manifest.stage_complete_calls"] = (
            "count", sum(len(spans("operators.manifest.stage_complete", r)) for r in both)
        )
        m["operators.manifest.publish_s"] = ("s", wall("operators.manifest.publish_stage"))
        m["operators.manifest.manifest_files"] = ("count", _manifest_files(out))
        m["operators.manifest.resume_s"] = ("s", wall("call.resume", ("resume",)))
        m["operators.incremental.update_s"] = ("s", wall("operators.incremental.incremental_update"))
        m["model.artifact.verify_s"] = ("s", wall("model.artifact.verify_executor_weights"))
        m["session.start_s"] = ("s", self.info["session_start_s"])
        m["warm_pass_s"] = ("s", self.info["warm_pass_s"])
        top_level = [s for s in tracer.spans if s.parent == build_top.span_id]
        m["trace.overhead_s"] = ("s", traced_s - untraced_s if untraced_s is not None else 0.0)
        m["trace.gap_s"] = ("s", build_top.wall - sum(s.wall for s in top_level))

        self._print_table(tracer, build_top, traced_s, untraced_s)
        return m

    @staticmethod
    def _print_table(tracer, top, traced_s, untraced_s) -> None:
        print(f"{'span':52s} {'wall_s':>8s} {'self_s':>8s} {'jobs':>5s} {'exec_s':>8s}")

        def row(sp, depth):
            label = "  " * depth + sp.name + (f"[{sp.stage}]" if sp.stage else "")
            print(
                f"{label:52s} {sp.wall:8.3f} {tracer.self_time(sp):8.3f} "
                f"{tracer.total(sp, 'jobs'):5d} {tracer.total(sp, 'executor_ms') / 1e3:8.3f}"
            )
            for c in tracer.children(sp):
                row(c, depth + 1)

        row(top, 0)
        covered = sum(c.wall for c in tracer.children(top))
        print(f"gap (call wall not covered by top-level spans): {top.wall - covered:.3f} s")
        if untraced_s is not None:
            print(
                f"tracing overhead: traced build {traced_s:.3f} s - untraced build "
                f"{untraced_s:.3f} s = {traced_s - untraced_s:+.3f} s"
            )

    # -- teardown -------------------------------------------------------------
    def close(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait
        for every one of them to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        pids = _descendants(self.jvm_pid) if self.jvm_pid else []
        self.spark.stop()
        if gw is not None and gw.proc is not None:
            gw.proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                gw.proc.wait(timeout=60)
            except Exception:
                gw.proc.kill()
                gw.proc.wait()
        deadline = time.monotonic() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        self.spark = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ner_spark")):
        print(f"perfbench: no ner_spark package under {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, str(os.getpid()))
    os.makedirs(run_dir)
    env = _configure_env(run_dir)
    meta = workloads.prepare(args.workload, args.seed, os.path.join(WORK, "cache"))

    bench = Bench(args, meta, env, run_dir)
    try:
        bench.setup()
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "host": {"cores": env["cores"], "master": env["master"], "driver_mem": env["driver_mem"]},
        "pyspark": pyspark.__version__,
        "input_turns": {k: meta[k] for k in ("base_turns", "delta_turns") if k in meta},
        **bench.info,
    }
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (u, v) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
