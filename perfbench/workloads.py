"""The perfbench workloads and the per-layer decomposition.

Each workload has the same shape: a warm-up operation (part of set-up),
a measured pass of operations and untimed output checks. In a traced
run the operations are run with and without spans, in alternating
order, so the difference is the tracing overhead; then the pipeline is
run once more layer by layer, and the traced run adds what the untraced
one leaves out: the stream drain (``etl_bulk``) and the operator-battery
slice (``api_requests``). Operations call only the program's public
functions.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import gen
from spans import planning_seconds

from medical_examination_data_etl_system_spark.api import handle_process_request
from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline.clean import postprocess_multilang
from medical_examination_data_etl_system_spark.pipeline.dims import dims_from_parquet, resolve_dims
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import (
    flatten,
    records_from_json_files,
    records_to_df,
)
from medical_examination_data_etl_system_spark.pipeline.llm import rewrite_distinct_summaries
from medical_examination_data_etl_system_spark.pipeline.render import (
    render_reports_sql,
    with_generic_columns,
)
from medical_examination_data_etl_system_spark.pipeline.run import reports_from_fact, reports_to_json
from medical_examination_data_etl_system_spark.streaming.pipeline import (
    read_records_stream,
    stream_reports,
)

STREAM_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "latest_offset_s": "latestOffset",
}
_STAGE_KEYS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")

# Input sizes. A run has to fit, with its set-up (JVM start plus the
# cold first operation, about 30 s on 4 cores), in about a minute, so
# the operation counts follow from --seconds and a nominal warm
# operation time on such a box. Requests come in seeded blocks of
# (1, 10, 100) records, so a run of whole blocks carries the same
# records and findings for every seed.
API_REQUEST_S = 8  # requests per run = seconds / 8, at least 3
WARM_REQUEST_RECORDS = 10  # one unmeasured request in the warm-up
# A warm bulk job costs about 7 s whatever its size plus about 0.1 ms
# per finding on 4 cores; at 24k records (48k findings) the per-finding
# part is about half of its wall time and 60 % of its executor time.
BULK_RECORDS = 24_000
BULK_FILES = 8  # the warm-up reads only the first file
BULK_JOB_S = 12  # bulk jobs per run = seconds / 12, at least 2
STREAM_FILES_PER_TRIGGER = 4  # the traced stream drains the corpus in 2 micro-batches

# The operator-battery slice, run by the traced api_requests run. Each
# group holds queries with a DuckDB oracle and rows-only ones.
BATTERY = {
    "battery_operators": ("docs_minhash_md5_exact", "docs_near_dup_components"),
    "battery_relational": (
        "q1_pricing_summary",
        "agg_cube_status_priority",
        "events_tumbling_hourly",
    ),
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode("utf-8"))
        h.update(b"\0")
    return h.hexdigest()


def _modes(traced: bool, i: int):
    """Untraced only, or both in alternating order (ABBA across ops) so
    a warming JVM does not bias the overhead estimate."""
    if not traced:
        return (False,)
    return (False, True) if i % 2 == 0 else (True, False)


class Run:
    """State of one benchmark run: inputs, results and check failures."""

    def __init__(self, spark, tracer, seed: int, seconds: int, work: str, t_setup: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.digest = ""
        self.t_setup = t_setup
        self.setup_s = 0.0

    def setup_done(self) -> None:
        """Set-up ends when the session is up and the warm-up op is done."""
        self.setup_s = time.perf_counter() - self.t_setup

    def op(self, name: str, fn, *args):
        """Run one operation of the workload; an exception counts it as
        failed and yields ``None``."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # an operation boundary: record, go on
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def check(self, ok: bool, msg: str) -> bool:
        if not ok:
            self.fail(msg)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, traced: bool, name: str, trace_id: str):
        if traced:
            return self.tracer.span(name, trace_id)
        return nullcontext({"counts": {}})

    def overhead(self, untraced: list[float], traced: list[float]) -> None:
        self.layer["trace.untraced_pass_s"] = sum(untraced)
        self.layer["trace.traced_pass_s"] = sum(traced)
        self.layer["trace.overhead_s"] = sum(traced) - sum(untraced)


# ---------------------------------------------------------------------------
# Layer-by-layer decomposition (traced runs only)
# ---------------------------------------------------------------------------


def _frames(out):
    return list(out.values()) if isinstance(out, dict) else [out]


def _layer(run: Run, name: str, fn, trace_id: str):
    """Call one layer on materialized inputs, then materialize its output
    through the noop sink. ``L.jobs`` counts the jobs the call itself
    runs (0 for a lazy layer); ``L.exec_jobs`` and the task, time and
    byte counters cover the materialization. Returns the persisted
    output."""
    tr = run.tracer
    with tr.span(f"{name}.call", trace_id) as s_call:
        t0 = time.perf_counter()
        out = fn()
        call_s = time.perf_counter() - t0
    frames = _frames(out)
    plan_s = sum(planning_seconds(f) for f in frames)
    persisted = [f.persist() for f in frames]
    with tr.span(f"{name}.exec", trace_id) as s_exec:
        t0 = time.perf_counter()
        for f in persisted:
            f.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
    with tr.span(f"{name}.rows", trace_id):
        rows = sum(f.count() for f in persisted)
    m = run.layer
    m[f"{name}.call_s"] = call_s
    m[f"{name}.plan_s"] = plan_s
    m[f"{name}.exec_s"] = exec_s
    m[f"{name}.rows_out"] = rows
    m[f"{name}.jobs"] = s_call["counts"]["jobs"]
    m[f"{name}.exec_jobs"] = s_exec["counts"]["jobs"]
    for key in _STAGE_KEYS:
        m[f"{name}.{key}"] = s_call["counts"][key] + s_exec["counts"][key]
    if isinstance(out, dict):
        return dict(zip(out.keys(), persisted))
    return persisted[0]


def decompose(run: Run, ingest_fn, dims_fn, trace_id: str):
    """ingest → dims → enrich → clean → llm → render, one layer at a
    time, mirroring the composition in ``pipeline.run``, under one parent
    span. Returns the rendered reports (persisted) for comparison with
    the composed path."""
    with run.tracer.span("layers", trace_id):
        flat = _layer(run, "ingest", ingest_fn, trace_id)
        dims = _layer(run, "dims", lambda: dims_fn(flat), trace_id)
        fact = _layer(run, "enrich", lambda: enrich(flat, dims), trace_id)
        cleaned = _layer(run, "clean", lambda: postprocess_multilang(fact), trace_id)
        rewrites = _layer(
            run, "llm", lambda: rewrite_distinct_summaries(with_generic_columns(cleaned)), trace_id
        )
        reports = _layer(
            run,
            "render",
            lambda: render_reports_sql(cleaned, rewrites).orderBy("rec_ord").drop("rec_ord"),
            trace_id,
        )
        # Summaries actually sent to the rewriter: the skip-listed language
        # defaults come back unchanged.
        sent = rewrites.filter("SUMMARY_REWRITTEN <> SUMMARY").count()
    run.layer["llm.distinct_summaries"] = sent
    findings = run.layer["ingest.rows_out"]
    run.layer["llm.rewrite_share"] = sent / findings if findings else 0.0
    return reports


# ---------------------------------------------------------------------------
# api_requests
# ---------------------------------------------------------------------------


class ApiRequests:
    """Closed loop, one client: seeded batches of 1, 10 and 100 records
    through ``api.handle_process_request`` with fallback dims and the
    mock LLM. The operation is one request."""

    def __init__(self, run: Run):
        self.run = run
        sizes = gen.request_sizes(run.seed, max(3, run.seconds // API_REQUEST_S))
        records = gen.make_records(run.seed, sum(sizes), prefix="A")
        self.requests = []
        start = 0
        for size in sizes:
            self.requests.append(records[start:start + size])
            start += size
        self.warm_request = gen.make_records(run.seed, WARM_REQUEST_RECORDS, prefix="W")
        self.expected: dict[str, str] = {}

    def _file_path(self):
        """The measured requests' records through the file ingest path,
        with dims derived the same way as the API does: the reports every
        request must reproduce."""
        run = self.run
        src = run.path("api-files")
        os.makedirs(src, exist_ok=True)
        # In RECORD_ID order: "A…" (measured) before "W…" (warm-up).
        records = [r for req in self.requests for r in req] + self.warm_request
        gen.write_jsonl(records, os.path.join(src, "r.jsonl"))
        with cache_scope():
            flat = flatten(records_from_json_files(run.spark, src))
            reports = reports_from_fact(enrich(flat, resolve_dims(run.spark, flat)))
            return {r["record_id"]: r["report"] for r in reports.collect()}

    def warm(self) -> None:
        """The warm-up runs the same pipeline through the file path, which
        also yields the reference reports (untimed by the pass), then one
        checked request that is not measured: latency still falls over the
        first few requests after start-up."""
        self.expected = self.run.op("api.file_path", self._file_path) or {}
        self.run.op("api.warmup_request", self._request, self.warm_request)

    def _request(self, records):
        rows = handle_process_request(self.run.spark, records)["rows"]
        ids = [r["RECORD_ID"] for r in records if gen.has_nonempty_finding(r)]
        got = [x["report"] for x in rows]
        if not self.run.check(
            got == [self.expected.get(i) for i in ids],
            f"api: {len(got)} reports for {len(ids)} reportable records do not match "
            "the file ingest path's reports, in request order",
        ):
            return None
        return list(zip(ids, got))

    def measure(self, traced: bool) -> dict:
        """The untraced pass sends every request; a traced run sends the
        first one with and without spans, to keep within its time."""
        run = self.run
        res = {"lat": [], "lat_traced": [], "findings": 0, "responses": [], "counts": []}
        for i, records in enumerate(self.requests[:1] if traced else self.requests):
            for with_spans in _modes(traced, i):
                with run.span(with_spans, "api.request", f"req{i}") as span:
                    t0 = time.perf_counter()
                    out = run.op("api.request", self._request, records)
                    dt = time.perf_counter() - t0
                if out is None:
                    continue
                if with_spans:
                    res["lat_traced"].append(dt)
                    res["counts"].append(span["counts"])
                else:
                    res["lat"].append(dt)
                    res["findings"] += gen.count_findings(records)
                    res["responses"].extend(out)
        return res

    def trace_layers(self) -> None:
        run = self.run
        spark = run.spark
        records = max(self.requests, key=len)
        want = [self.expected.get(r["RECORD_ID"]) for r in records if gen.has_nonempty_finding(r)]
        with cache_scope():
            reports = decompose(
                run,
                lambda: flatten(records_to_df(spark, records)),
                lambda flat: resolve_dims(spark, flat),
                "api.layers",
            )
            t0 = time.perf_counter()
            body = reports_to_json(reports)
            run.layer["api.respond_s"] = time.perf_counter() - t0
            run.check(
                [x["report"] for x in body["rows"]] == want,
                "api: layer-by-layer reports differ from the file ingest path's",
            )


def run_api(run: Run, traced: bool) -> None:
    w = ApiRequests(run)
    w.warm()
    run.setup_done()
    res = w.measure(traced)
    lat = res["lat"]
    run.e2e["op_p50_s"] = _median(lat)
    run.info["op_s"] = lat
    run.e2e["findings_per_s"] = res["findings"] / sum(lat) if lat else 0.0
    run.digest = _digest(res["responses"])
    if traced:
        run.overhead(lat, res["lat_traced"])
        for key in ("jobs", "stages", "tasks"):
            run.layer[f"api.{key}"] = _median([c[key] for c in res["counts"]])
        run.layer["api.request_p50_s"] = _median(res["lat_traced"])
        w.trace_layers()
        run_battery(run)


# ---------------------------------------------------------------------------
# operator-battery slice (traced api_requests runs)
# ---------------------------------------------------------------------------


def run_battery(run: Run) -> None:
    """Each query of :data:`BATTERY` once on seeded tables, under a span:
    the timed call builds the query and collects its (small) result.
    The result is then checked against the query's DuckDB oracle where
    one exists, else for rows > 0 and the query's declared columns."""
    import duckdb

    from medical_examination_data_etl_system_spark.queries import all_queries
    from tests.test_oracle_parity import _assert_frames_equal

    spark = run.spark
    data = run.path("battery")
    gen.write_battery_tables(run.seed, data)
    registry = all_queries()
    con = duckdb.connect()
    try:
        for table in gen.BATTERY_ROWS:
            path = os.path.join(data, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        with run.tracer.span("battery", "battery"):
            for group, names in BATTERY.items():
                total = dict.fromkeys(("s", "jobs") + _STAGE_KEYS, 0)
                for name in names:
                    qd = registry[name]
                    with run.tracer.span(f"battery.{name}", "battery") as span, cache_scope():
                        t0 = time.perf_counter()
                        out = run.op(f"battery.{name}", _collect, qd.fn(spark, data))
                        dt = time.perf_counter() - t0
                    if out is None:
                        continue
                    columns, result = out
                    if qd.oracle is not None:
                        try:
                            _assert_frames_equal(result, con.execute(qd.oracle).df(), name)
                        except AssertionError as exc:
                            run.fail(f"battery: {str(exc)[:300]}")
                    else:
                        run.check(len(result) > 0, f"battery: {name} returned no rows")
                        run.check(
                            list(result.columns) == columns,
                            f"battery: {name} result columns differ from its schema",
                        )
                    run.layer[f"battery.{name}.s"] = dt
                    total["s"] += dt
                    for key in ("jobs",) + _STAGE_KEYS:
                        total[key] += span["counts"][key]
                for key, value in total.items():
                    run.layer[f"{group}.{key}"] = value
    finally:
        con.close()


def _collect(df):
    return df.columns, df.toPandas()


# ---------------------------------------------------------------------------
# etl_bulk
# ---------------------------------------------------------------------------


class EtlBulk:
    """A seeded JSON-lines corpus plus static parquet dims. The measured
    pass runs bulk file jobs (``records_from_json_files`` → ... →
    parquet) over the whole corpus. A traced run also drains the same
    files through ``streaming.pipeline.stream_reports``."""

    def __init__(self, run: Run):
        self.run = run
        records = gen.make_records(run.seed, BULK_RECORDS, prefix="B")
        self.findings = gen.count_findings(records)
        self.expected = sum(gen.has_nonempty_finding(r) for r in records)
        self.corpus = run.path("corpus")
        gen.split_files(records, BULK_FILES, self.corpus)
        self.warm_src = run.path("corpus-warm")
        first = sorted(os.listdir(self.corpus))[0]
        os.makedirs(self.warm_src)
        shutil.copy(os.path.join(self.corpus, first), self.warm_src)
        per_file = -(-BULK_RECORDS // BULK_FILES)
        self.warm_expected = sum(gen.has_nonempty_finding(r) for r in records[:per_file])
        self.dims_dir = run.path("dims")
        gen.write_dims(run.seed, self.dims_dir)
        self.n_jobs = max(2, run.seconds // BULK_JOB_S)
        self.warm_reports: list = []
        self.reference: list = []

    def _bulk(self, src: str, out: str) -> str:
        spark = self.run.spark
        with cache_scope():
            flat = flatten(records_from_json_files(spark, src))
            reports = reports_from_fact(enrich(flat, dims_from_parquet(spark, self.dims_dir)))
            reports.write.mode("overwrite").parquet(out)
        return out

    def _stream(self):
        spark = self.run.spark
        query = stream_reports(
            read_records_stream(
                spark, self.corpus, max_files_per_trigger=STREAM_FILES_PER_TRIGGER
            ),
            self.run.path("stream"),
            self.run.path("ckpt"),
            dims=dims_from_parquet(spark, self.dims_dir),
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query

    def _check_reports(self, reports, expected: int, what: str) -> None:
        run = self.run
        run.check(len(reports) == expected, f"etl: {what}: {len(reports)} reports for {expected} records")
        run.check(all(rep for _, rep, _ in reports), f"etl: {what}: empty report")
        run.check(
            any("[LLM_OUTPUT]" in rep for _, rep, _ in reports),
            f"etl: {what}: no rewritten summary (mock LLM not applied)",
        )

    def warm(self) -> None:
        """The warm-up is a bulk job over the corpus's first file. Its
        reports are checked against the measured jobs' reports for the
        same records."""
        run = self.run
        out = run.op("etl.warmup", self._bulk, self.warm_src, run.path("out-warm"))
        if out is None:
            return
        self.warm_reports = self._read(out)
        self._check_reports(self.warm_reports, self.warm_expected, "warm-up job")

    def measure(self, traced: bool) -> dict:
        """The untraced pass runs ``n_jobs`` bulk jobs; a traced run runs
        one job with and one without spans, to keep within its time."""
        run = self.run
        res = {"lat": [], "lat_traced": [], "outputs": [], "counts": []}
        for i in range(1 if traced else self.n_jobs):
            for with_spans in _modes(traced, i):
                out = run.path(f"bulk-{i}-{int(with_spans)}")
                with run.span(with_spans, "etl.bulk_job", f"bulk{i}") as span:
                    t0 = time.perf_counter()
                    ok = run.op("etl.bulk_job", self._bulk, self.corpus, out)
                    dt = time.perf_counter() - t0
                if ok is None:
                    continue
                res["outputs"].append(out)
                if with_spans:
                    res["lat_traced"].append(dt)
                    res["counts"].append(span["counts"])
                else:
                    res["lat"].append(dt)
        return res

    def _read(self, out: str):
        t = pq.read_table(out, columns=["record_id", "report", "request"])
        return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))

    def check(self, res: dict) -> None:
        """Every measured job writes the same reports, one per reportable
        record, and the warm-up's records read the same in them."""
        run = self.run
        for k, out in enumerate(res["outputs"]):
            got = self._read(out)
            if k == 0:
                self._check_reports(got, self.expected, "bulk job")
                self.reference = got
                ids = {rid for rid, _, _ in self.warm_reports}
                run.check(
                    [r for r in got if r[0] in ids] == self.warm_reports,
                    "etl: bulk job reports differ from the warm-up job's for the same records",
                )
            else:
                run.check(got == self.reference, "etl: bulk job outputs differ between jobs")

    def trace_stream(self) -> None:
        """Drain the corpus as a stream under a span; its union must equal
        the bulk output."""
        run = self.run
        with run.tracer.span("etl.stream", "stream") as span:
            t0 = time.perf_counter()
            query = run.op("etl.stream", self._stream)
            wall = time.perf_counter() - t0
        if query is None:
            return
        # The stream's jobs run on its own thread, in a job group named
        # after its run id.
        counts = run.tracer.store.group_counts(str(query.runId))
        span["counts"] = counts
        batches = [p["durationMs"] for p in query.recentProgress if p["numInputRows"] > 0]
        run.attempted += len(batches)
        want = -(-BULK_FILES // STREAM_FILES_PER_TRIGGER)
        run.check(len(batches) == want, f"stream: {len(batches)} micro-batches, expected {want}")
        run.check(
            self._read(run.path("stream")) == self.reference,
            "stream: micro-batch output differs from the bulk output for the same files",
        )
        run.layer["stream.batch_p50_s"] = _median([b["triggerExecution"] / 1000 for b in batches])
        run.layer["stream.wall_s"] = wall
        for key, phase in STREAM_PHASES.items():
            run.layer[f"stream.{key}"] = _median([b.get(phase, 0) / 1000 for b in batches])
        for key in ("jobs", "tasks", "run_s", "cpu_s"):
            run.layer[f"stream.{key}"] = counts[key]

    def trace_layers(self, base) -> None:
        run = self.run
        spark = run.spark
        with cache_scope():
            reports = decompose(
                run,
                lambda: flatten(records_from_json_files(spark, self.corpus)),
                lambda flat: dims_from_parquet(spark, self.dims_dir),
                "etl.layers",
            )
            got = sorted(tuple(r) for r in reports.select("record_id", "report", "request").collect())
            run.check(got == base, "etl: layer-by-layer reports differ from the bulk output")


def run_etl(run: Run, traced: bool) -> None:
    w = EtlBulk(run)
    w.warm()
    run.setup_done()
    res = w.measure(traced)
    lat = res["lat"]
    run.e2e["op_p50_s"] = _median(lat)
    run.info["op_s"] = lat
    run.e2e["findings_per_s"] = len(lat) * w.findings / sum(lat) if lat else 0.0
    w.check(res)
    run.digest = _digest(w.reference)
    if traced:
        run.overhead(lat, res["lat_traced"])
        for key in ("jobs",) + _STAGE_KEYS:
            run.layer[f"etl.bulk_{key}"] = _median([c[key] for c in res["counts"]])
        run.layer["etl.bulk_p50_s"] = _median(res["lat_traced"])
        w.trace_stream()
        w.trace_layers(w.reference)


WORKLOADS = {"api_requests": run_api, "etl_bulk": run_etl}
