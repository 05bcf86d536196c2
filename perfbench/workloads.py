"""The workloads. Each generates its inputs from the seed, sets up, runs its
operation for the run's seconds, checks every output, and reads its layers'
counters.

- ``instruction_pipeline``: one operation drives the instruction pipeline
  through its three entry points in turn — ``plans.runner.run_config``
  (batch map/reduce with three sinks), ``serving.PipelineService`` (a closed
  loop of requests) and ``streaming.jobs.foreach_batch_llm`` with the cache
  table — all against the chat stub.
- ``corpus_dedup``: five registry rows over a generated corpus; no LLM.

The package is called only through those public entry points and
``registry``; nothing reaches into it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

import gen
import harness

#: Injected stub latency per chat completion: the 50 ms at which ROADMAP
#: item 3 measured the pipeline's kernel against the latency-bound ceiling.
#: The input sizes below come from the benchmark's time budget; README.md
#: ("Sizes and where they come from") gives the measurements behind each.
STUB_LATENCY_MS = 50
MODEL = "stub-model"


def llms_section(stub_url: str) -> list[dict]:
    return [{"api_type": "openai", "api_url": stub_url + "/v1", "api_key": "null",
             "model": MODEL, "temperature": 0.0, "top_p": 0.01, "seed": 2}]


def pipeline():
    from instructionspipe_spark.plans.instructions import Pipeline

    return Pipeline.from_dict({"pipe": gen.PIPE})


def instruction_names() -> list[str]:
    return [i["name"] for stage in gen.PIPE for i in stage]


def read_json_lines(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def reference(spark, df) -> dict[int, dict]:
    """``MockLlm`` run of the same pipeline — the stub's completion rule in
    pure expressions — keyed by record id."""
    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.plans.llm_kernel import MockLlm

    cols = ["record_id", "result", "session_id", *instruction_names()]
    out = run_pipeline(df, pipeline(), MockLlm(MODEL))
    return {r["record_id"]: r.asDict() for r in out.select(*cols).collect()}


def non_null_completions(ref: dict[int, dict]) -> int:
    return sum(r[n] is not None for r in ref.values() for n in instruction_names())


def same_result(got: dict, want: dict) -> bool:
    return all(got.get(k) == want[k] for k in ("result", "session_id", *instruction_names()))


def in_windows(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(s <= t <= e for s, e in windows)


class Ops:
    """One phase's operations: walls, items, attempts and failures."""

    def __init__(self):
        self.walls: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.wall_start = time.time()
        self.wall_end = self.wall_start
        #: wall-clock windows of each part of the operation, by part name
        self.windows: dict[str, list[tuple[float, float]]] = {}

    def p50_ms(self) -> float:
        return 1000 * statistics.median(self.walls)

    def rate(self) -> float:
        """One operation's items over the median operation wall."""
        return self.items / len(self.walls) / statistics.median(self.walls)


def run_until(seconds: float, op) -> None:
    """Call ``op()`` at least once, then again while another call of the
    median length so far still ends within ``seconds``."""
    t0 = time.perf_counter()
    walls: list[float] = []
    while not walls or time.perf_counter() - t0 + statistics.median(walls) <= seconds:
        t = time.perf_counter()
        op()
        walls.append(time.perf_counter() - t)


class Workload:
    name = ""
    uses_stub = True

    def __init__(self, seed: int, root: str, tracer):
        self.seed, self.root, self.tracer = seed, root, tracer
        self.exclude: set[int] = set()
        os.makedirs(root, exist_ok=True)

    def setup(self, spark, stub) -> None:
        """Workload objects built before timing, then ``session.ping``: one
        trivial job. The first timed operation pays the first use of each
        path, as a one-shot run does."""
        from instructionspipe_spark.session import ping

        self.spark, self.stub = spark, stub
        ping(spark)

    def teardown(self) -> None:
        pass

    def patch(self) -> None:
        """Wrap the package functions this workload goes through in spans."""

    def attach(self, ops: Ops) -> None:
        """Attach intervals recorded outside the tracer to its spans."""

    def report(self, ops: Ops) -> str:
        """The run's figures under the per-entry-point metric names."""
        return ""

    def layer_metrics(self, ops: Ops, stub_stats: dict | None, monitor) -> dict:
        return {}


# -- the instruction pipeline's three entry points -------------------------------------


class RunConfigPath:
    """``run_config`` on a reference-shaped config: 4 map + 1 reduce, three
    sinks, the config's own ``OpenAiLlm`` pointed at the stub."""

    part = "run_config"
    N_RECORDS = 30
    NULL_SHARE = 0.2

    def __init__(self, seed: int, root: str, tracer):
        self.root, self.tracer = root, tracer
        os.makedirs(root)
        self.in_path = os.path.join(root, "in.jsonl")
        gen.write_jsonl(self.in_path, gen.ehr_records(seed, self.N_RECORDS, self.NULL_SHARE))
        self.outputs: list[tuple[str, str, str]] = []

    def setup(self, spark, stub) -> None:
        self.spark, self.stub = spark, stub

    def run_config(self, tag: str, llm=None) -> tuple[str, str, str]:
        from instructionspipe_spark.plans.runner import run_config

        d = os.path.join(self.root, "out", tag)
        cfg = {"in_data_path": self.in_path, "out_data_path": os.path.join(d, "results.jsonl"),
               "chatml_path": os.path.join(d, "chatml.jsonl"),
               "llms": llms_section(self.stub.url), "pipe": gen.PIPE}
        os.makedirs(d)
        path = os.path.join(d, "config.json")
        with open(path, "w") as f:
            json.dump(cfg, f)
        run_config(self.spark, path, llm=llm)
        return cfg["out_data_path"], cfg["chatml_path"], cfg["chatml_path"] + ".meta.jsonl"

    def run(self) -> int:
        with self.tracer.span("runner.run_config"):
            self.outputs.append(self.run_config(f"op{len(self.outputs)}"))
        return self.N_RECORDS

    def check(self) -> tuple[int, int]:
        """Each run_config's three sinks: row counts, and every record's
        instruction outputs, ``result`` and ``session_id`` equal to MockLlm."""
        from instructionspipe_spark.sources.io import read_jsonl

        self.ref = reference(self.spark, read_jsonl(self.spark, self.in_path))
        k = len(instruction_names())
        failed = 0
        for results, chatml, meta in self.outputs:
            rows = {r["record_id"]: r for r in read_json_lines(results)}
            ok = (len(rows) == self.N_RECORDS == len(read_json_lines(meta))
                  and len(read_json_lines(chatml)) == self.N_RECORDS * k
                  and all(same_result(rows.get(i, {}), want) for i, want in self.ref.items()))
            failed += not ok
        return len(self.outputs), failed

    def patch(self) -> None:
        from instructionspipe_spark.plans import compiler, llm_kernel, runner

        t = self.tracer
        t.patch(runner, "run_pipeline", "compiler.run_pipeline")
        t.patch(compiler, "run_stage", "compiler.run_stage")
        t.patch(llm_kernel.AsyncKernelLlm, "complete_df", "llm_kernel.complete_df")
        t.patch(runner, "write_jsonl", "runner.write_jsonl")

    def layer_metrics(self, ops: Ops, stub_stats: dict) -> dict:
        windows = ops.windows[self.part]
        out = harness.stub_layer_metrics(stub_stats, windows)
        out["llm_kernel.requests"] /= len(windows)
        out["runner.llm_requests_per_call"] = out["llm_kernel.requests"] / non_null_completions(self.ref)
        configs = {sp["id"] for sp in self.tracer.spans if sp["name"] == "runner.run_config"}
        kids = [sp for sp in self.tracer.spans if sp["parent"] in configs]
        builds = [sp["end"] - sp["start"] for sp in kids if sp["name"] == "compiler.run_pipeline"]
        out["compiler.build_ms"] = 1000 * statistics.median(builds)
        sinks = sorted((sp for sp in kids if sp["name"] == "runner.write_jsonl"), key=lambda sp: sp["start"])
        for i, sink in enumerate(("results", "chatml", "meta")):
            out[f"runner.sink_s.{sink}"] = statistics.median(sp["end"] - sp["start"] for sp in sinks[i::3])
        return out


class ServingPath:
    """``PipelineService`` behind ``serve_background``: a closed loop of
    ``nproc`` connections from one client process, each posting one
    generated record and waiting for the reply."""

    part = "serving"
    N_RECORDS = 64
    NULL_SHARE = 0.2

    def __init__(self, seed: int, root: str, tracer):
        self.root, self.tracer = root, tracer
        os.makedirs(root)
        self.records_path = os.path.join(root, "records.jsonl")
        gen.write_jsonl(self.records_path, gen.ehr_records(seed, self.N_RECORDS, self.NULL_SHARE))
        self.responses: list[dict] = []
        self.server = None
        self.schema = None
        self.offset = 0

    def setup(self, spark, stub) -> None:
        from instructionspipe_spark.plans.runner import llms_from_config
        from instructionspipe_spark.serving import PipelineService, serve_background
        from instructionspipe_spark.sources.io import read_jsonl

        self.spark = spark
        if self.schema is None:  # input preparation, once per run
            self.schema = read_jsonl(spark, self.records_path).schema
        service = PipelineService(spark, pipeline(), llms_from_config(llms_section(stub.url)),
                                  input_schema=self.schema)
        self.server, self.url = serve_background(service)

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def run(self, exclude: set[int]) -> tuple[int, list[dict]]:
        """One closed loop; returns the count of 200 replies and every
        request."""
        out = os.path.join(self.root, f"client{self.offset}.jsonl")
        conns = harness.nproc()
        with self.tracer.span("serving.closed_loop"):
            client = harness.Child([sys.executable, os.path.join(harness.HERE, "client.py"),
                                    "--url", self.url, "--records", self.records_path,
                                    "--offset", str(self.offset), "--connections", str(conns),
                                    "--out", out])
            exclude.add(client.pid)
            try:
                client.readline()
            finally:
                client.close()
        self.offset += conns
        with open(out) as f:
            reqs = [json.loads(line) for line in f]
        self.responses.extend(reqs)
        return sum(r["status"] == 200 for r in reqs), reqs

    def check(self) -> tuple[int, int]:
        """Every 200 reply equals the batch MockLlm result for its record."""
        from instructionspipe_spark.sources.io import read_jsonl

        ref = reference(self.spark, read_jsonl(self.spark, self.records_path, schema=self.schema))
        with open(self.records_path) as f:
            ids = [json.loads(line)["record_id"] for line in f]
        ok = [r for r in self.responses if r["status"] == 200]
        failed = sum(not same_result(json.loads(r["body"]), ref[ids[r["idx"]]]) for r in ok)
        return len(ok), failed

    def patch(self) -> None:
        from instructionspipe_spark import serving

        t = self.tracer
        t.patch(serving.PipelineService, "run_record", "serving.run_record", root=True)
        t.patch(serving, "run_pipeline", "compiler.run_pipeline")

    def layer_metrics(self, ops: Ops, monitor) -> dict:
        spans = self.tracer.spans
        builds, collects = [], []
        for req in (sp for sp in spans if sp["name"] == "serving.run_record"):
            pipe = [sp for sp in spans if sp["parent"] == req["id"] and sp["name"] == "compiler.run_pipeline"]
            if pipe:
                builds.append(pipe[0]["end"] - req["start"])
                collects.append(req["end"] - pipe[0]["end"])
        jobs = [j for j in monitor.jobs if in_windows(j["submitted"], ops.windows[self.part])]
        totals = monitor.totals(jobs)
        return {"serving.build_ms": 1000 * statistics.median(builds),
                "serving.collect_ms": 1000 * statistics.median(collects),
                "serving.jobs_per_request": totals["jobs"] / len(builds),
                "serving.tasks_per_request": totals["tasks"] / len(builds)}


class StreamPath:
    """``streaming.jobs.foreach_batch_llm`` with a cache path, draining
    pre-written JSONL files one per micro-batch (``availableNow``); a stated
    share of records repeat an earlier record's scoped fields. Each drain
    starts from an empty cache, checkpoint and output."""

    part = "stream"
    N_FILES = 2
    PER_FILE = 64
    NULL_SHARE = 0.2
    REPEAT_SHARE = 0.5

    def __init__(self, seed: int, root: str, tracer):
        self.root, self.tracer = root, tracer
        self.in_dir = os.path.join(root, "in")
        os.makedirs(self.in_dir)
        batches = gen.stream_batches(seed, self.N_FILES, self.PER_FILE, self.NULL_SHARE, self.REPEAT_SHARE)
        for i, batch in enumerate(batches):
            gen.write_jsonl(os.path.join(self.in_dir, f"batch-{i:04d}.jsonl"), batch)
        self.drains: list[dict] = []
        self.schema = None

    def setup(self, spark, stub) -> None:
        from instructionspipe_spark.sources.io import read_jsonl

        self.spark, self.stub = spark, stub
        if self.schema is None:  # input preparation, once per run
            self.schema = read_jsonl(spark, self.in_dir).schema

    def run(self) -> dict:
        from instructionspipe_spark.plans.runner import llms_from_config
        from instructionspipe_spark.streaming.jobs import foreach_batch_llm, read_jsonl_stream

        d = os.path.join(self.root, "drains", str(len(self.drains)))
        drain = {k: os.path.join(d, k) for k in ("cache", "checkpoint", "out")}
        with self.tracer.span("streaming.drain", ambient=True):
            stream = read_jsonl_stream(self.spark, self.in_dir, self.schema, max_files_per_trigger=1)
            llm = llms_from_config(llms_section(self.stub.url))[MODEL]
            q = foreach_batch_llm(stream, pipeline(), llm,
                                  drain["cache"], drain["checkpoint"], drain["out"]).start()
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        drain["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.drains.append(drain)
        return drain

    def check(self) -> tuple[int, int]:
        """Each drain's output equals the batch MockLlm pipeline."""
        import pyarrow.dataset as ds

        from instructionspipe_spark.sources.io import read_jsonl

        self.ref = reference(self.spark, read_jsonl(self.spark, self.in_dir, schema=self.schema))
        failed = 0
        for drain in self.drains:
            rows = ds.dataset(drain["out"], format="parquet", partitioning="hive").to_table().to_pylist()
            got = {r["record_id"]: r for r in rows}
            failed += not (len(rows) == len(self.ref) and all(
                same_result(got.get(i, {}), want) for i, want in self.ref.items()))
        return len(self.drains), failed

    def patch(self) -> None:
        from instructionspipe_spark.plans import cache, compiler

        t = self.tracer
        t.patch(compiler, "run_pipeline", "compiler.run_pipeline")
        t.patch(cache, "cached_llm_call", "cache.cached_llm_call")

    def attach(self, drains: list[dict]) -> None:
        from datetime import datetime

        for drain in drains:
            for p in drain["progress"]:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                self.tracer.attach_enclosing("streaming.batch", start,
                                             start + p["durationMs"]["triggerExecution"] / 1000.0,
                                             {"durationMs": p["durationMs"]})

    def layer_metrics(self, ops: Ops, stub_stats: dict, monitor) -> dict:
        def p50(key):
            return statistics.median(p["durationMs"].get(key, 0) for d in ops.drains for p in d["progress"])

        windows = ops.windows[self.part]
        requests = sum(in_windows(s, windows) for s, _ in stub_stats["intervals"]) / len(windows)
        distinct = len({(n, r[n]) for r in self.ref.values() for n in instruction_names() if r[n] is not None})
        files = glob.glob(os.path.join(ops.drains[-1]["cache"], "*.parquet"))
        jobs = [j for j in monitor.jobs if in_windows(j["submitted"], windows)]
        return {
            "streaming.add_batch_p50_ms": p50("addBatch"),
            "streaming.query_planning_p50_ms": p50("queryPlanning"),
            "streaming.get_batch_p50_ms": p50("getBatch"),
            "streaming.wal_commit_p50_ms": p50("walCommit"),
            "streaming.jobs_per_batch": len(jobs) / sum(len(d["progress"]) for d in ops.drains),
            "cache.requests_per_unique_prompt": requests / distinct,
            "cache.hit_frac": 1.0 - requests / non_null_completions(self.ref),
            "cache.table_files": len(files),
            "cache.table_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        }


class InstructionPipeline(Workload):
    """One operation = ``run_config``, then a closed serving loop, then a
    cached stream drain, all against the chat stub."""

    name = "instruction_pipeline"
    paths = (RunConfigPath, ServingPath, StreamPath)

    def __init__(self, seed, root, tracer):
        super().__init__(seed, root, tracer)
        self.batch, self.serving, self.stream = (
            cls(seed + i, os.path.join(root, cls.part), tracer) for i, cls in enumerate(self.paths))

    def setup(self, spark, stub):
        for path in (self.batch, self.serving, self.stream):
            path.setup(spark, stub)
        super().setup(spark, stub)

    def teardown(self):
        self.serving.teardown()

    def measure(self, seconds: float) -> Ops:
        ops = Ops()
        ops.windows = {p.part: [] for p in (self.batch, self.serving, self.stream)}
        ops.part_walls = {p.part: [] for p in (self.batch, self.serving, self.stream)}
        ops.latencies, ops.drains = [], []

        def timed(path, fn):
            w0, t0 = time.time(), time.perf_counter()
            try:
                return fn()
            finally:
                ops.windows[path.part].append((w0, time.time()))
                ops.part_walls[path.part].append(time.perf_counter() - t0)

        def op():
            t0 = time.perf_counter()
            try:
                with self.tracer.span("pipeline.operation", root=True, ambient=True):
                    ops.attempted += 1
                    items = timed(self.batch, self.batch.run)
                    ok, reqs = timed(self.serving, lambda: self.serving.run(self.exclude))
                    ops.attempted += len(reqs)
                    ops.failed += len(reqs) - ok
                    ops.latencies += [r["end"] - r["start"] for r in reqs if r["status"] == 200]
                    ops.attempted += 1
                    ops.drains.append(timed(self.stream, self.stream.run))
            except Exception as e:  # counted, reported, never hidden
                print(f"[{self.name}] operation failed: {e!r}", file=sys.stderr)
                ops.failed += 1
                return
            ops.walls.append(time.perf_counter() - t0)
            ops.items += items + ok + self.stream.N_FILES * self.stream.PER_FILE

        run_until(seconds, op)
        ops.wall_end = time.time()
        return ops

    def check(self):
        checked = failed = 0
        for path in (self.batch, self.serving, self.stream):
            c, f = path.check()
            checked, failed = checked + c, failed + f
        return checked, failed

    def patch(self):
        for path in (self.batch, self.serving, self.stream):
            path.patch()

    def attach(self, ops):
        self.stream.attach(ops.drains)

    def report(self, ops):
        med = statistics.median
        batch_ms = [p["durationMs"]["triggerExecution"] for d in ops.drains for p in d["progress"]]
        w = ops.part_walls
        return (f"mapreduce_records_per_s={self.batch.N_RECORDS / med(w['run_config']):.3f} records/s "
                f"serve_rps={len(ops.latencies) / sum(w['serving']):.3f} req/s "
                f"serve_p50_ms={1000 * med(ops.latencies):.1f} ms (n={len(ops.latencies)}) "
                f"stream_records_per_s={self.stream.N_FILES * self.stream.PER_FILE / med(w['stream']):.3f} records/s "
                f"stream_batch_p50_ms={med(batch_ms):.1f} ms")

    def layer_metrics(self, ops, stub_stats, monitor):
        out = self.batch.layer_metrics(ops, stub_stats)
        out.update(self.serving.layer_metrics(ops, monitor))
        out.update(self.stream.layer_metrics(ops, stub_stats, monitor))
        return out


#: The five registry rows of corpus_dedup, in run order.
CORPUS_ROWS = ("corpus_prep_pipeline", "incremental_batch_dedup_capped", "streaming_band_admission",
               "semantic_dedup_two_level", "similarity_ivf_two_level_topk")


class CorpusDedup(Workload):
    """Five registry rows over a generated corpus directory; each is built,
    then collected to the driver. No LLM. The collected frames are what the
    check compares with the DuckDB oracles, outside the timed region."""

    name = "corpus_dedup"
    uses_stub = False
    N_DOCS = 800
    N_VECS = 800

    def __init__(self, seed, root, tracer):
        super().__init__(seed, root, tracer)
        self.sf_dir = gen.corpus_dir(seed, root, self.N_DOCS, self.N_VECS, harness.REPO_ROOT)
        self.results: list[tuple[str, object]] = []

    def _row(self, name: str):
        """Build, then collect one row. Returns the frame and the wall-clock
        start, split and end."""
        from instructionspipe_spark.registry import QUERIES

        w0 = time.time()
        with self.tracer.span(f"registry.{name}.build"):
            df = QUERIES[name](self.spark, self.sf_dir)
        w1 = time.time()
        with self.tracer.span(f"registry.{name}.exec"):
            pdf = df.toPandas()
        return pdf, (w0, w1, time.time())

    def measure(self, seconds: float) -> Ops:
        ops = Ops()
        ops.rows = {r: [] for r in CORPUS_ROWS}

        def op():
            ops.attempted += 1
            t0 = time.perf_counter()
            frames = []
            try:
                with self.tracer.span("corpus.pass", root=True):
                    for name in CORPUS_ROWS:
                        pdf, walls = self._row(name)
                        frames.append((name, pdf))
                        ops.rows[name].append(walls)
            except Exception as e:  # counted, reported, never hidden
                print(f"[{self.name}] pass failed: {e!r}", file=sys.stderr)
                ops.failed += 1
                return
            ops.walls.append(time.perf_counter() - t0)
            ops.items += self.N_DOCS + self.N_VECS
            self.results.extend(frames)

        run_until(seconds, op)
        ops.wall_end = time.time()
        return ops

    def check(self):
        """Every collected row hash-equal to its registry DuckDB oracle, with
        ``tools/check_oracle.py``'s fingerprint."""
        import importlib.util

        import duckdb

        from instructionspipe_spark.registry import ORACLES

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(harness.REPO_ROOT, "tools", "check_oracle.py"))
        co = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(co)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')")
        want = {name: co.frame_fingerprint(con.execute(ORACLES[name]).df()) for name in CORPUS_ROWS}
        con.close()
        failed = 0
        for name, pdf in self.results:
            if co.frame_fingerprint(pdf) != want[name]:
                print(f"[{self.name}] {name} differs from its oracle", file=sys.stderr)
                failed += 1
        return len(self.results), failed

    def report(self, ops):
        return f"corpus_job_s={statistics.median(ops.walls):.3f} s"

    def layer_metrics(self, ops, stub_stats, monitor):
        out = {}
        for name in CORPUS_ROWS:
            rows = ops.rows[name]
            out[f"registry.{name}.build_s"] = statistics.median(w1 - w0 for w0, w1, _ in rows)
            out[f"registry.{name}.exec_s"] = statistics.median(w2 - w1 for _, w1, w2 in rows)
            w = [monitor.totals(monitor.submitted(w0, w2)) for w0, _, w2 in rows]
            out[f"spark.shuffle_write_mb.{name}"] = statistics.median(x["shuffle_write_mb"] for x in w)
        return out


WORKLOADS = {w.name: w for w in (InstructionPipeline, CorpusDedup)}


def cleanup(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
