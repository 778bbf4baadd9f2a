"""HTTP push sink against a local mock server: success, retry-on-5xx,
no-retry-on-4xx, redaction, audit shape, distributed path."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from crowdsorsa_etl_spark.config import SinkConfig
from crowdsorsa_etl_spark.sinks.http_push import (
    AUDIT_SCHEMA,
    push_documents,
    push_partition,
    write_audit_log,
)

TOKEN = "sekrit-token-123"


class MockApi(BaseHTTPRequestHandler):
    """Scriptable endpoint: behavior keyed by the posted documentId suffix."""

    seen: list[dict] = []
    fail_countdown: dict[str, int] = {}

    def do_POST(self):  # noqa: N802
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        MockApi.seen.append({"path": self.path, "body": body})
        doc_id = body.get("id", "")
        if doc_id.endswith("flaky") and MockApi.fail_countdown.get(doc_id, 0) > 0:
            MockApi.fail_countdown[doc_id] -= 1
            self._respond(503, {"error": "try later"})
        elif doc_id.endswith("throttle") and MockApi.fail_countdown.get(doc_id, 0) > 0:
            MockApi.fail_countdown[doc_id] -= 1
            self._respond(429, {"error": "slow down"})
        elif doc_id.endswith("bad"):
            self._respond(400, {"error": f"rejected with {TOKEN}"})
        else:
            self._respond(200, {"status": "ok", "echo_token": TOKEN})

    def _respond(self, code: int, payload: dict):
        data = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):  # silence
        pass


@pytest.fixture(scope="module")
def mock_api():
    server = HTTPServer(("127.0.0.1", 0), MockApi)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_port}/"
    server.shutdown()


def _cfg(url: str, **kw) -> SinkConfig:
    defaults = dict(
        api_url=url,
        access_token=TOKEN,
        docs_per_second_per_partition=10000.0,
        max_retries=3,
        retry_backoff_s=0.01,
    )
    defaults.update(kw)
    return SinkConfig(**defaults)


def _rows(*ids: str):
    class R(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    return [
        R(obs_id=i, document_json=json.dumps({"id": i, "payload": "x"}))
        for i in ids
    ]


class TestPushPartition:
    def test_success_and_audit(self, mock_api):
        MockApi.seen.clear()
        out = list(push_partition(iter(_rows("doc-1")), _cfg(mock_api)))
        (doc_key, status, ok, attempts, err, body, ts) = out[0]
        assert (doc_key, status, ok, attempts, err) == ("doc-1", 200, True, 1, None)
        assert TOKEN not in body  # redacted even though the API echoed it
        assert MockApi.seen[0]["path"].startswith("/v0/warehouse/push?access_token=")

    def test_retry_on_503_then_success(self, mock_api):
        MockApi.fail_countdown["doc-flaky"] = 2
        out = list(push_partition(iter(_rows("doc-flaky")), _cfg(mock_api)))
        (_, status, ok, attempts, *_rest) = out[0]
        assert (status, ok, attempts) == (200, True, 3)

    def test_no_retry_on_400(self, mock_api):
        MockApi.seen.clear()
        out = list(push_partition(iter(_rows("doc-bad")), _cfg(mock_api)))
        (_, status, ok, attempts, err, body, _) = out[0]
        assert (status, ok, attempts) == (400, False, 1)
        assert TOKEN not in (body or "")
        assert len(MockApi.seen) == 1  # exactly one attempt

    def test_429_retries_then_succeeds(self, mock_api):
        """408/429 are transient DESPITE being 4xx: the same bytes succeed
        once the rate window rolls, so they must retry (unlike 400)."""
        MockApi.fail_countdown["doc-throttle"] = 2
        out = list(push_partition(iter(_rows("doc-throttle")), _cfg(mock_api)))
        (_, status, ok, attempts, *_rest) = out[0]
        assert (status, ok, attempts) == (200, True, 3)

    def test_gives_up_after_max_retries(self, mock_api):
        MockApi.fail_countdown["doc2-flaky"] = 99
        out = list(push_partition(iter(_rows("doc2-flaky")), _cfg(mock_api)))
        (_, status, ok, attempts, *_rest) = out[0]
        assert (status, ok, attempts) == (503, False, 3)

    def test_connection_refused_audited_not_raised(self):
        cfg = _cfg("http://127.0.0.1:9/", max_retries=2)  # port 9: discard
        out = list(push_partition(iter(_rows("doc-x")), cfg))
        (_, status, ok, attempts, err, *_rest) = out[0]
        assert (status, ok, attempts) == (-1, False, 2)
        assert err


class TestStreamRestartComposition:
    def test_restart_replay_does_not_duplicate_posts(self, spark, mock_api, tmp_path):
        """Composed kill → restart → no-duplicate-POST contract: run a
        foreachBatch→HTTP stream over one input file, then simulate a crash
        in the at-least-once window (push completed, checkpoint epoch commit
        never written) by deleting the commit marker, add a second file, and
        restart from the same checkpoint. Spark replays epoch 0 in full; the
        pushed-keys ledger must anti-join it to nothing, so the mock API
        sees every documentId exactly once across both runs."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import start_http_push_stream

        src = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")
        ledger = str(tmp_path / "ledger")
        os.makedirs(src)
        schema = "obs_id string, document_json string"

        def stage(name: str, ids: list[str]) -> None:
            staging = str(tmp_path / f"_stage_{name}")
            spark.createDataFrame(_rows(*ids), schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
            os.rename(os.path.join(staging, part), os.path.join(src, name))

        def run_stream() -> None:
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = start_http_push_stream(
                stream, _cfg(mock_api), checkpoint_dir=ckpt, ledger_dir=ledger
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        MockApi.seen.clear()
        first_ids = [f"d{i}" for i in range(10)]
        stage("batch0.parquet", first_ids)
        run_stream()
        assert len(MockApi.seen) == 10  # phase 1 pushed everything once

        # crash injection: epoch 0's POSTs all landed, but the checkpoint
        # commit was never written — the exact window where a naive restart
        # re-POSTs the whole batch
        os.remove(os.path.join(ckpt, "commits", "0"))
        crc = os.path.join(ckpt, "commits", ".0.crc")  # local-FS checksum
        if os.path.exists(crc):
            os.remove(crc)
        stage("batch1.parquet", [f"d{i}" for i in range(10, 15)])
        run_stream()

        posted = [s["body"]["id"] for s in MockApi.seen]
        assert sorted(posted) == sorted(f"d{i}" for i in range(15)), (
            "each documentId must hit the API exactly once across the restart"
        )


class TestIdempotentLedger:
    def _push(self, spark, mock_api, ledger, epoch, ids):
        from crowdsorsa_etl_spark.sinks.http_push import push_documents_idempotent

        docs = spark.createDataFrame(
            _rows(*ids), "obs_id string, document_json string"
        )
        return push_documents_idempotent(
            docs, _cfg(mock_api), ledger_dir=str(ledger), epoch_id=epoch
        )

    def test_double_replay_preserves_ledger(self, spark, mock_api, tmp_path):
        """A replayed epoch must rewrite its ledger partition with the SAME
        settled key set, not an empty one — otherwise a second crash after
        the replay re-POSTs the whole batch (round-6 defect)."""
        ledger = tmp_path / "ledger"
        MockApi.seen.clear()
        self._push(spark, mock_api, ledger, 0, ["e1", "e2", "e3"])
        assert len(MockApi.seen) == 3

        for _ in range(2):  # two consecutive replays of the same epoch
            self._push(spark, mock_api, ledger, 0, ["e1", "e2", "e3"])
            assert len(MockApi.seen) == 3, "replay must not re-POST"
            keys = {
                r.obs_id
                for r in spark.read.parquet(str(ledger)).collect()
            }
            assert keys == {"e1", "e2", "e3"}, (
                "epoch overwrite must preserve the settled key set"
            )

    def test_transient_failures_stay_eligible(self, spark, mock_api, tmp_path):
        """5xx/connection failures that exhaust the retry budget must NOT be
        recorded as settled: the document is redelivered on replay. Permanent
        4xx rejections ARE settled and never re-POSTed."""
        ledger = tmp_path / "ledger"
        MockApi.seen.clear()
        MockApi.fail_countdown["led-flaky"] = 99  # > max_retries → exhausts
        audit = self._push(
            spark, mock_api, ledger, 0, ["led-ok", "led-bad", "led-flaky"]
        ).collect()
        by_key = {r.doc_key: r for r in audit}
        assert by_key["led-ok"].ok
        assert by_key["led-bad"].status_code == 400
        assert by_key["led-flaky"].status_code == 503

        settled = {r.obs_id for r in spark.read.parquet(str(ledger)).collect()}
        assert settled == {"led-ok", "led-bad"}, (
            "only 2xx and permanent 4xx keys are settled"
        )

        # outage over: the replayed epoch re-pushes ONLY the transient failure
        MockApi.fail_countdown["led-flaky"] = 0
        MockApi.seen.clear()
        audit2 = self._push(
            spark, mock_api, ledger, 0, ["led-ok", "led-bad", "led-flaky"]
        ).collect()
        assert [s["body"]["id"] for s in MockApi.seen] == ["led-flaky"]
        assert audit2 and all(r.ok for r in audit2)
        settled = {r.obs_id for r in spark.read.parquet(str(ledger)).collect()}
        assert settled == {"led-ok", "led-bad", "led-flaky"}

    def test_throttled_keys_not_settled(self, spark, mock_api, tmp_path):
        """A 429 that exhausts the retry budget must NOT settle the key —
        the replayed epoch redelivers it (transient-4xx data-loss fix)."""
        ledger = tmp_path / "ledger"
        MockApi.seen.clear()
        MockApi.fail_countdown["led-throttle"] = 99
        self._push(spark, mock_api, ledger, 0, ["led2-ok", "led-throttle"])
        settled = {r.obs_id for r in spark.read.parquet(str(ledger)).collect()}
        assert settled == {"led2-ok"}

        MockApi.fail_countdown["led-throttle"] = 0
        MockApi.seen.clear()
        self._push(spark, mock_api, ledger, 0, ["led2-ok", "led-throttle"])
        assert [s["body"]["id"] for s in MockApi.seen] == ["led-throttle"]

    def test_replay_preserves_original_failure_detail(self, spark, mock_api, tmp_path):
        """A replayed epoch must re-record a permanently-failed key's
        ORIGINAL ok/status, not rewrite it as success — the ledger doubles
        as failure accounting."""
        ledger = tmp_path / "ledger"
        MockApi.seen.clear()
        self._push(spark, mock_api, ledger, 0, ["led2-bad"])
        self._push(spark, mock_api, ledger, 0, ["led2-bad"])  # replay
        rows = spark.read.parquet(str(ledger)).collect()
        assert len(rows) == 1
        assert rows[0].ok is False and rows[0].status_code == 400

    def test_corrupt_ledger_raises_not_redelivers(self, spark, mock_api, tmp_path):
        """A ledger that EXISTS but cannot be read must raise — degrading to
        'first epoch' would silently re-POST everything."""
        ledger = tmp_path / "ledger"
        (ledger / "epoch=0").mkdir(parents=True)
        (ledger / "epoch=0" / "part-0.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception):
            self._push(spark, mock_api, ledger, 1, ["z1"])


class TestPushDocuments:
    def test_distributed_push_with_dedup(self, spark, mock_api, tmp_path):
        MockApi.seen.clear()
        docs = spark.createDataFrame(
            _rows("a", "b", "c") + _rows("a"),  # duplicate key "a"
            "obs_id string, document_json string",
        )
        audit = push_documents(docs, _cfg(mock_api), num_partitions=2)
        rows = audit.collect()
        assert len(rows) == 3  # dedup dropped the repeat
        assert all(r.ok for r in rows)
        assert {r.doc_key for r in rows} == {"a", "b", "c"}

        out_dir = str(tmp_path / "audit")
        write_audit_log(audit, out_dir, _cfg(mock_api))
        logged = spark.read.json(out_dir)
        assert logged.count() == 3
        assert all(TOKEN not in (r.response_body or "") for r in logged.collect())

    def test_push_plans_one_shuffle_and_arrow_hop(self, spark, mock_api):
        """dedup + num_partitions hash-partitions on the key once (the dedup
        aggregate reuses it) and pushes through MapInArrow — no pickled
        Python round trip on either side of the POST loop."""
        import re

        docs = spark.createDataFrame(
            _rows("a", "b") + _rows("a"), "obs_id string, document_json string"
        )
        audit = push_documents(docs, _cfg(mock_api), num_partitions=2)
        plan = audit._sc._jvm.PythonSQLUtils.explainString(
            audit._jdf.queryExecution(), "formatted"
        )
        assert "MapInArrow" in plan
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
        assert "hashpartitioning(obs_id" in plan
        assert "BatchEvalPython" not in plan
        assert audit.schema == AUDIT_SCHEMA

    def test_count_posts_each_document_once(self, spark, mock_api):
        """``count()`` must run the push — the side effect is neither pruned
        away nor doubled — for every deduplicated document."""
        MockApi.seen.clear()
        ids = [f"cnt-{i}" for i in range(25)]
        docs = spark.createDataFrame(
            _rows(*ids) + _rows(*ids[:5]), "obs_id string, document_json string"
        )
        assert push_documents(docs, _cfg(mock_api), num_partitions=3).count() == 25
        assert sorted(s["body"]["id"] for s in MockApi.seen) == sorted(ids)

    def test_audit_batches_are_bounded(self, spark, mock_api, monkeypatch):
        """Audit rows leave the POST loop in chunks of AUDIT_BATCH_ROWS; a
        partition with more documents than that returns every row once."""
        from crowdsorsa_etl_spark.sinks import http_push

        monkeypatch.setattr(http_push, "AUDIT_BATCH_ROWS", 4)
        ids = [f"chunk-{i}" for i in range(11)]
        docs = spark.createDataFrame(
            _rows(*ids), "obs_id string, document_json string"
        ).coalesce(1)
        rows = push_documents(docs, _cfg(mock_api), dedup=False).collect()
        assert sorted(r.doc_key for r in rows) == sorted(ids)
        assert all(r.ok and r.attempts == 1 for r in rows)
