"""The benchmark workloads, each a closed loop driven by one client (the
batch driver): the next operation starts when the previous one finished.

Every workload has ``setup()`` (inputs, mock API), ``run(seconds)`` (the
measured window; returns end-to-end values and per-layer values) and
``close()``. Correctness is checked outside the timed walls: after every
round on season_push, after the window on query_mix; a failed check is
counted, printed, and fails the run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import urllib.request

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.config import SinkConfig, config_for_season
from crowdsorsa_etl_spark.functions import geo
from crowdsorsa_etl_spark.pipelines.crowdsorsa import documents_2023, documents_2024
from crowdsorsa_etl_spark.queries import QUERIES
from crowdsorsa_etl_spark.schemas import OBSERVATIONS_2023
from crowdsorsa_etl_spark.sinks.http_push import push_documents, write_audit_log
from crowdsorsa_etl_spark.sinks.writers import write_partitioned
from crowdsorsa_etl_spark.sources.observations import municipality_dim
from crowdsorsa_etl_spark.sources.shapefile import read_shapefile_zip
from crowdsorsa_etl_spark.streaming.pipeline import start_http_push_stream

import inputs
from tracing import median

HERE = os.path.dirname(os.path.abspath(__file__))
TOKEN = "perfbench-secret-token"
#: one document in FAIL_EVERY (by key hash) gets a 503 on its first attempt
FAIL_EVERY = 40

#: input sizes (documents or rows per season and operation)
PUSH_DOCS = 500
#: repeats of the render-alone probe of a traced season_push run
PROBE_REPEATS = 3
#: operations per window at least: the first and three steady ones, so a
#: stall during one steady operation does not move its workload's medians
MIN_OPS = 4
STREAM_FILES = 6
STREAM_FILE_DOCS = 200
#: warm passes per query_mix window at least, so each query's warm time is a
#: median of three
MIN_WARM_PASSES = 3
MIX_SCALE = 10  # orders ×1000: lineitem ≈ 40k rows, like sf0.01
MIX_DATA_SEED = 42

QUERY_MIX = [
    "q03_star_join",
    "q31_rank_distributions",
    "q116_kll_grouped",
    "llm_bpe_merges",
    "llm_pack_sequences",
    "flagship_order_documents",
    "llm_minhash_lsh",
]


class Checks:
    """Counts correctness checks; a failure is recorded, printed, and keeps
    the run going so every later operation is still checked."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)


class MockApi:
    """The mock laji.fi API in its own process (mock_api.py)."""

    def __init__(self, max_connections: int) -> None:
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "mock_api.py"),
                "--max-connections",
                str(max_connections),
                "--fail-every",
                str(FAIL_EVERY),
            ],
            stdin=subprocess.PIPE,  # the API exits when this pipe closes
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            self.close()
            raise RuntimeError("mock API did not start")
        self.url = f"http://127.0.0.1:{line[1]}/"

    def stats(self, reset: bool = False) -> dict:
        url = self.url + "_stats" + ("?reset=1" if reset else "")
        with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
            return json.loads(resp.read())

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def document_id(season: int, obs_id: str) -> str:
    return f"http://tun.fi/{config_for_season(season, 'dev').collection_id}/{obs_id}"


def season_docs(spark, tracer, season: int, zip_path: str):
    """shapefile zip → laji-etl documents (lazy plan; nothing runs yet)."""
    with tracer.span("sources.shapefile.read"):
        obs = read_shapefile_zip(spark, zip_path).withColumn(
            "area_m2", F.lit(None).cast("double")
        )
    with tracer.span("pipelines.crowdsorsa.plan"):
        cfg = config_for_season(season, "dev")
        if season == 2023:
            docs = documents_2023(obs, municipality_dim(spark), cfg)
        else:
            docs = documents_2024(obs, cfg)
    return obs, docs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def steady(walls: list[float], done: list[int]) -> dict:
    """End-to-end values of a closed loop of repeated operations: the first
    operation is reported alone; throughput and the typical operation come
    from the ones after it."""
    return {
        "throughput_per_s": sum(done[1:]) / sum(walls[1:]),
        "op_s": median(walls[1:]),
        "first_op_s": walls[0],
    }


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Workload:
    name = ""
    uses_mock = False

    def __init__(self, spark, tracer, work: str, seed: int, nproc: int, short: bool) -> None:
        self.spark = spark
        self.short = short  # the shorter window of a traced run (query_mix only)
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.checks = Checks()
        self.attempted = 0  # operations (documents, rows or queries) attempted
        self.failed = 0
        self.mock: MockApi | None = None

    def setup(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.make_inputs()
        if self.uses_mock:
            self.mock = MockApi(self.nproc)
            self.sink = SinkConfig(
                api_url=self.mock.url,
                access_token=TOKEN,
                docs_per_second_per_partition=0,
                retry_backoff_s=0.01,
            )

    def make_inputs(self) -> None:
        raise NotImplementedError

    def probe(self) -> dict:
        """Traced runs only, after the window: layer calls outside the
        measured loop; returns extra per-layer values."""
        return {}

    def close(self) -> None:
        if self.mock is not None:
            self.mock.close()
            self.mock = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class SeasonPush(Workload):
    """EP1 + EP2: both season zips → documents → HTTP push → audit log."""

    name = "season_push"
    uses_mock = True

    def make_inputs(self) -> None:
        self.zips, self.ids = {}, {}
        for season in (2023, 2024):
            self.zips[season] = self.path(f"data{season}.zip")
            ids = inputs.write_season_zip(self.zips[season], season, PUSH_DOCS, self.seed)
            self.ids[season] = sorted(document_id(season, i) for i in ids)

    def run(self, seconds: float) -> tuple[dict, dict]:
        deadline = time.perf_counter() + seconds
        walls, acked, rounds = [], [], []
        while len(walls) < MIN_OPS or time.perf_counter() < deadline:
            i = len(walls)
            t0 = time.perf_counter()
            with self.tracer.span("op"):
                for season, zip_path in self.zips.items():
                    _obs, docs = season_docs(self.spark, self.tracer, season, zip_path)
                    with self.tracer.span("sinks.http_push.push"):
                        audit = push_documents(
                            docs, self.sink, num_partitions=self.nproc
                        ).localCheckpoint()
                    with self.tracer.span("sinks.http_push.audit_write"):
                        write_audit_log(audit, self.path(f"audit{season}-{i}"), self.sink)
            walls.append(time.perf_counter() - t0)
            ok, stats = self._check_round(i)
            acked.append(ok)
            rounds.append(stats)
        e2e = steady(walls, acked)
        per_round = {k: median([r[k] for r in rounds]) for k in rounds[0]}
        layers = {f"sinks.http_push.{k}": per_round[k] for k in ("attempts", "retries", "ok_ratio")}
        layers.update(
            {
                f"mock_api.{k}": per_round[k]
                for k in ("requests", "connections", "requests_per_connection", "busy_s")
            }
        )
        return e2e, layers

    def probe(self) -> dict:
        return {**self.render_probe(), **self.archive_probe(), **StreamProbe(self).run()}

    def steady_round_s(self) -> float:
        return median([s["seconds"] for s in self.tracer.spans if s["layer"] == "op"][1:])

    def render_probe(self) -> dict:
        """The share of a steady round's wall spent in the shapefile read, in
        the document render alone (a noop-sink write of the documents,
        geometry UDFs included) and, the rest after the plan, in the HTTP
        sink (POSTs, retries, checkpoint, audit log); and the rows the reader
        returned."""
        tracer = self.tracer
        steady_ops = [s["id"] for s in tracer.spans if s["layer"] == "op"][1:]
        round_s = self.steady_round_s()

        def per_round(layer: str) -> float:
            inside = [s["seconds"] for s in tracer.spans if s["layer"] == layer and s["parent"] in steady_ops]
            return sum(inside) / len(steady_ops)

        renders, rows = [], []
        for _ in range(PROBE_REPEATS):
            render_s = 0.0
            for season, zip_path in self.zips.items():
                obs, docs = season_docs(self.spark, tracer, season, zip_path)
                with tracer.span("pipelines.crowdsorsa.docs") as span:
                    noop(docs)
                render_s += span["seconds"]
                rows.append(obs.count())
            renders.append(render_s)
        render_s = median(renders)
        read_s = per_round("sources.shapefile.read")
        plan_s = per_round("pipelines.crowdsorsa.plan")
        return {
            "sources.shapefile.rows": median(rows),
            "trace.read_share": read_s / round_s,
            "trace.render_share": render_s / round_s,
            "trace.sink_share": 1.0 - (read_s + plan_s + render_s) / round_s,
        }

    def archive_probe(self) -> dict:
        """The round's documents archived as parquet by month
        (``write_partitioned``) instead of pushed, and each geometry UDF alone
        as a noop-sink projection, net of a noop scan of its input."""
        tracer, files, size = self.tracer, [], []
        for season, zip_path in self.zips.items():
            _obs, docs = season_docs(self.spark, tracer, season, zip_path)
            month = F.substring(
                F.col("document.publicDocument.gatherings")[0]["eventDate"]["begin"], 1, 7
            )
            out = self.path(f"archive{season}")
            with tracer.span("sinks.writers.write_partitioned"):
                write_partitioned(
                    docs.select("obs_id", "document_json", month.alias("event_month")),
                    out,
                    partition_by=["event_month"],
                )
            parts = glob.glob(os.path.join(out, "event_month=*", "*.parquet"))
            files.append(len(parts))
            size.append(sum(os.path.getsize(p) for p in parts))
            ids = pq.read_table(out, columns=["obs_id"]).column("obs_id")
            n, distinct = len(ids), len(set(ids.to_pylist()))
            self.checks.expect(
                n == distinct == PUSH_DOCS,
                f"archive {season}: {n} rows, {distinct} distinct obs_id",
            )
            shutil.rmtree(out, ignore_errors=True)

        obs = {s: read_shapefile_zip(self.spark, z) for s, z in self.zips.items()}
        geom = F.col("geometry_wkb")
        probes = [("make_valid", 2023, geo.st_make_valid_multi(geom))]
        for season, crs in ((2023, "WGS84"), (2024, "EUREF")):
            probes += [("area", season, geo.area_m2(geom, crs)),
                       ("geojson", season, geo.st_as_geojson_struct(geom))]
        udf_s = 0.0
        for udf, season, column in probes:
            with tracer.span("sources.shapefile.scan") as scan:
                noop(obs[season].select(geom))
            with tracer.span(f"functions.geo.{udf}") as span:
                noop(obs[season].select(column))
            udf_s += span["seconds"] - scan["seconds"]
        return {
            "sinks.writers.files": median(files),
            "sinks.writers.bytes": median(size),
            "trace.udf_share": udf_s / self.steady_round_s(),
        }

    def _check_round(self, i: int) -> tuple[int, dict]:
        stats = self.mock.stats(reset=True)
        c = self.checks
        expected = sorted(d for season_ids in self.ids.values() for d in season_ids)
        c.expect(sorted(stats["document_ids"]) == expected, f"round {i}: API got the wrong documentIds")
        c.expect(stats["bad_json"] == 0, f"round {i}: {stats['bad_json']} bodies were not JSON")
        ok = attempts = 0
        for season in self.zips:
            rows, leaked = [], False
            for part in glob.glob(self.path(f"audit{season}-{i}", "part-*")):
                with open(part) as fh:
                    for line in fh:
                        leaked |= TOKEN in line
                        rows.append(json.loads(line))
            n_ok = sum(bool(r.get("ok")) for r in rows)
            c.expect(n_ok == PUSH_DOCS == len(rows), f"round {i}: audit {season} has {n_ok}/{len(rows)} ok rows")
            c.expect(not leaked, f"round {i}: audit {season} contains the access token")
            ok += n_ok
            attempts += sum(r.get("attempts", 0) for r in rows)
            shutil.rmtree(self.path(f"audit{season}-{i}"), ignore_errors=True)
        docs = len(expected)
        self.attempted += docs
        self.failed += docs - ok
        return ok, {
            "attempts": attempts,
            "retries": attempts - docs,
            "ok_ratio": ok / attempts if attempts else 0.0,
            "requests": stats["requests"],
            "connections": stats["connections"],
            "requests_per_connection": stats["requests"] / max(1, stats["connections"]),
            "busy_s": stats["busy_s"],
        }


class StreamProbe:
    """The 2023 season arriving as parquet drop files, one per micro-batch
    (``maxFilesPerTrigger=1``), pushed through the ledgered HTTP stream sink;
    then the last epoch's commit is deleted and the query restarted on the
    same checkpoint, which must POST nothing. The probe of a traced
    season_push run: it gives the streaming and ledger layer metrics and
    their correctness checks."""

    def __init__(self, wl: "SeasonPush") -> None:
        self.wl = wl
        self.state = wl.path("stream")
        self.staging = wl.path("stream", "staging")
        self.inbox = wl.path("stream", "inbox")

    def _start(self):
        spark = self.wl.spark
        stream = (
            spark.readStream.schema(OBSERVATIONS_2023)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.inbox)
        )
        docs = documents_2023(stream, municipality_dim(spark), config_for_season(2023, "dev"))
        return start_http_push_stream(
            docs,
            self.wl.sink,
            checkpoint_dir=os.path.join(self.state, "checkpoint"),
            ledger_dir=os.path.join(self.state, "ledger"),
        )

    def _committed(self) -> set[int]:
        commits = os.path.join(self.state, "checkpoint", "commits")
        return {int(n) for n in os.listdir(commits) if n.isdigit()} if os.path.isdir(commits) else set()

    def _await_batches(self, query, n: int, timeout_s: float = 120.0) -> None:
        """Wait until ``n`` micro-batches are committed, by polling the commit
        log (processAllAvailable can return before a file that has just
        arrived was listed)."""
        give_up = time.perf_counter() + timeout_s
        polls = 0
        while len(self._committed()) < n:
            polls += 1
            if polls % 100 == 0 and not query.isActive:
                raise RuntimeError(f"stream stopped early: {query.exception()}")
            if time.perf_counter() > give_up:
                raise RuntimeError(f"stream did not commit {n} batches in {timeout_s} s")
            time.sleep(0.005)

    def run(self) -> dict:
        wl, tracer, checks = self.wl, self.wl.tracer, self.wl.checks
        files = inputs.write_drop_files(self.staging, STREAM_FILES, STREAM_FILE_DOCS, wl.seed)
        os.makedirs(self.inbox)
        with tracer.span("streaming.start"):
            query = self._start()
        try:
            for i, (name, _ids) in enumerate(files):
                os.rename(os.path.join(self.staging, name), os.path.join(self.inbox, name))
                with tracer.span("streaming.batch"):
                    self._await_batches(query, i + 1)
            # a batch's progress report lands just after its commit
            for _ in range(1000):
                batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
                if len(batches) >= len(files):
                    break
                time.sleep(0.01)
        finally:
            query.stop()
        stats = wl.mock.stats(reset=True)
        expected = sorted(document_id(2023, i) for _name, ids in files for i in ids)
        got = sorted(stats["document_ids"])
        checks.expect(got == expected, f"stream: API got {len(got)} documentIds, expected {len(expected)}")
        checks.expect(stats["bad_json"] == 0, f"stream: {stats['bad_json']} bodies were not JSON")
        wl.attempted += len(expected)
        wl.failed += len(set(expected) - set(got))

        replay_s, replay_posts = self._replay()
        checks.expect(replay_posts == 0, f"stream: replaying the last epoch POSTed {replay_posts}")

        def p50(key: str) -> float:
            return median([p["durationMs"].get(key, 0) / 1000.0 for p in batches])

        return {
            "streaming.batches": len(batches),
            "streaming.batch_p50_s": p50("triggerExecution"),
            "streaming.batch_max_s": max(p["durationMs"]["triggerExecution"] / 1000.0 for p in batches),
            "streaming.add_batch_p50_s": p50("addBatch"),
            "streaming.query_planning_p50_s": p50("queryPlanning"),
            "streaming.wal_commit_p50_s": p50("walCommit"),
            "sinks.ledger.replay_s": replay_s,
            "sinks.ledger.replay_posts": replay_posts,
        }

    def _replay(self) -> tuple[float, int]:
        committed = self._committed()
        last = max(committed)
        commits = os.path.join(self.state, "checkpoint", "commits")
        for name in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))
        t0 = time.perf_counter()
        with self.wl.tracer.span("sinks.ledger.replay"):
            query = self._start()
            try:
                self._await_batches(query, len(committed))
            finally:
                query.stop()
        return time.perf_counter() - t0, self.wl.mock.stats(reset=True)["requests"]


def result_digest(rows, schema) -> str:
    """Order-insensitive digest over the columns whose values are exact
    (floating-point columns, alone or nested, are left out)."""
    exact = [i for i, f in enumerate(schema.fields) if not _has_float(f.dataType)]
    lines = sorted(repr(tuple(r[i] for i in exact)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _has_float(dtype) -> bool:
    name = dtype.typeName()
    if name in ("float", "double"):
        return True
    if name == "struct":
        return any(_has_float(f.dataType) for f in dtype.fields)
    if name == "array":
        return _has_float(dtype.elementType)
    if name == "map":
        return _has_float(dtype.keyType) or _has_float(dtype.valueType)
    return False


class QueryMix(Workload):
    """Seven registry queries: one cold pass against an empty artifact root,
    then warm passes until the window ends, at least MIN_WARM_PASSES."""

    name = "query_mix"
    EXPECTED = os.path.join(HERE, "expected_mix.json")

    def make_inputs(self) -> None:
        self.sf = self.path("mixdata")
        inputs.write_query_tables(self.sf, MIX_SCALE, MIX_DATA_SEED)
        # the artifact stores live under tempfile.gettempdir(): a fresh,
        # empty directory per set-up makes the first pass cold
        tempfile.tempdir = self.path("artifacts")
        os.makedirs(tempfile.tempdir)
        self.order = list(QUERY_MIX)
        random.Random(self.seed).shuffle(self.order)
        with open(self.EXPECTED) as fh:
            self.expected = json.load(fh)

    def _one(self, q: str, label: str, timings: dict):
        """Build + noop action of one query; returns the DataFrame or None."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span(f"queries.{q}.{label}build") as span:
                df = QUERIES[q](self.spark, self.sf)
            t1 = time.perf_counter()
            with self.tracer.span(f"queries.{q}.{label}action"):
                noop(df)
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            print(f"QUERY FAILED: {q}: {exc!r}", file=sys.stderr, flush=True)
            self.failed += 1
            return None
        timings.setdefault(q, []).append((t1 - t0, t2 - t1, span["jobs"] if span else 0))
        return df

    def _check(self, q: str, df, label: str) -> None:
        if df is None:
            return
        rows = df.collect()
        want = self.expected[q]
        got = {"rows": len(rows), "digest": result_digest(rows, df.schema)}
        ok = got["rows"] == want["rows"] and (want.get("digest") in (None, got["digest"]))
        self.checks.expect(ok, f"{label} {q}: got {got}, expected {want}")

    def run(self, seconds: float) -> tuple[dict, dict]:
        cold: dict = {}
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            cold_dfs = {q: self._one(q, "cold_", cold) for q in self.order}
        cold_wall = time.perf_counter() - t0
        # the warm passes fill the window, and there are at least MIN_WARM_PASSES
        # (one in the shorter window of a traced run)
        min_passes = 1 if self.short else MIN_WARM_PASSES
        warm: dict = {}
        pass_walls: list[float] = []
        deadline = time.perf_counter() + seconds
        while len(pass_walls) < min_passes or time.perf_counter() < deadline:
            t1 = time.perf_counter()
            with self.tracer.span("op"):
                dfs = {q: self._one(q, "", warm) for q in self.order}
            pass_walls.append(time.perf_counter() - t1)
        for q, df in cold_dfs.items():
            self._check(q, df, "cold")
        for q, df in dfs.items():
            self._check(q, df, "warm")
        per_query = {q: median([b + a for b, a, _ in warm[q]]) for q in warm}
        e2e = {
            # per median pass, so a stall of the machine in one pass does not move it
            "throughput_per_s": sum(len(v) for v in warm.values()) / len(pass_walls)
            / median(pass_walls),
            "op_s": _geomean(list(per_query.values())),
            "first_op_s": cold_wall,
        }
        layers = {}
        for q in QUERY_MIX:
            layers[f"queries.{q}.build_s"] = median([b for b, _, _ in warm.get(q, [])])
            layers[f"queries.{q}.action_s"] = median([a for _, a, _ in warm.get(q, [])])
            layers[f"queries.{q}.build_jobs"] = median([j for _, _, j in warm.get(q, [])])
            layers[f"queries.{q}.cold_s"] = sum(cold.get(q, [(0.0, 0.0, 0)])[0][:2])
        return e2e, layers


WORKLOADS = {w.name: w for w in (SeasonPush, QueryMix)}
