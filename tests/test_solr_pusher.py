"""Solr update pusher: retry, health-pause, batching, commit — all
against injected fake transports (reference semantics:
SolrUpdater.php:1643-1708 solrRequest, :2803-2925 cluster state)."""

from __future__ import annotations

import json
import os

import pytest

from recordmanager_spark.sinks.solr import SolrPusher, push_dataframe

UPDATE = "http://solr/update"
ADMIN = "http://solr/admin"


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _cluster_body(shard_state="active", replica_state="active"):
    data = {
        "col1": {
            "shards": {
                "shard1": {
                    "state": shard_state,
                    "replicas": {"r1": {"state": replica_state, "core": "c"}},
                }
            }
        }
    }
    return json.dumps({"znode": {"data": json.dumps(data)}})


def make_pusher(transport, clock, **kw):
    kw.setdefault("max_update_tries", 3)
    kw.setdefault("update_retry_wait", 60)
    kw.setdefault("cluster_state_check_interval", 30)
    return SolrPusher(
        transport,
        update_url=UPDATE,
        admin_url=ADMIN,
        sleeper=clock.sleep,
        clock=clock,
        **kw,
    )


def test_retry_on_5xx_then_success():
    calls = []
    clock = FakeClock()

    def transport(url, body, headers):
        if body is None:
            return 200, _cluster_body()
        calls.append((clock.t, body))
        return (503, "busy") if len(calls) < 3 else (200, "ok")

    p = make_pusher(transport, clock)
    p.solr_request("[{}]")
    # two failures -> two update_retry_wait sleeps before the success
    assert [t for t, _ in calls] == [0.0, 60.0, 120.0]


def test_retry_exhaustion_raises_with_final_code():
    clock = FakeClock()

    def transport(url, body, headers):
        if body is None:
            return 200, _cluster_body()
        return 500, "boom"

    p = make_pusher(transport, clock)
    with pytest.raises(RuntimeError, match=r"failed \(500\)"):
        p.solr_request("[{}]")


def test_transport_exception_retries_then_raises_original():
    clock = FakeClock()
    n = {"v": 0}

    def transport(url, body, headers):
        if body is None:
            return 200, _cluster_body()
        n["v"] += 1
        raise ConnectionError("refused")

    p = make_pusher(transport, clock)
    with pytest.raises(ConnectionError):
        p.solr_request("[{}]")
    assert n["v"] == 3  # max_update_tries attempts


def test_health_pause_blocks_until_cluster_recovers():
    """Degraded cluster pauses the POST indefinitely (only ERRORS count
    against max_update_tries); the request goes out after recovery."""
    clock = FakeClock()
    posts = []

    def transport(url, body, headers):
        if body is None:
            # degraded until t=100, then ok
            if clock.t < 100:
                return 200, _cluster_body(replica_state="recovering")
            return 200, _cluster_body()
        posts.append(clock.t)
        return 200, "ok"

    p = make_pusher(transport, clock)
    p.solr_request("[{}]")
    assert posts and posts[0] >= 100  # paused through the degradation
    # the pause slept in check-interval steps, not retry-wait steps
    assert posts[0] % 30 == 0


def test_health_check_errors_count_against_tries():
    clock = FakeClock()

    def transport(url, body, headers):
        if body is None:
            return 500, "zk down"
        return 200, "ok"

    p = make_pusher(transport, clock, cluster_state_check_interval=30)
    with pytest.raises(RuntimeError, match="cluster state"):
        p.solr_request("[{}]")


def test_health_check_disabled_when_interval_zero():
    clock = FakeClock()
    posts = []

    def transport(url, body, headers):
        assert body is not None  # no admin GETs at all
        posts.append(body)
        return 200, "ok"

    p = make_pusher(transport, clock, cluster_state_check_interval=0)
    p.solr_request("[{}]")
    assert posts == ["[{}]"]


def test_cluster_state_cached_for_interval():
    clock = FakeClock()
    admin_gets = {"v": 0}

    def transport(url, body, headers):
        if body is None:
            admin_gets["v"] += 1
            return 200, _cluster_body()
        return 200, "ok"

    p = make_pusher(transport, clock)
    p.solr_request("[{}]")
    p.solr_request("[{}]")  # within the 30s cache window
    assert admin_gets["v"] == 1
    clock.t += 31
    p.solr_request("[{}]")
    assert admin_gets["v"] == 2


def test_document_batching_by_count_and_size():
    clock = FakeClock()
    bodies = []

    def transport(url, body, headers):
        if body is None:
            return 200, _cluster_body()
        bodies.append(body)
        return 200, "ok"

    p = make_pusher(transport, clock, cluster_state_check_interval=0)
    docs = [{"id": f"d{i}", "title": "t" * 10} for i in range(25)]
    n = p.push_documents(docs, max_update_records=10)
    assert n == 3 and len(bodies) == 3
    sizes = [len(json.loads(b)) for b in bodies]
    assert sizes == [10, 10, 5]
    # size cap: 1 KB forces flushes before the record cap
    bodies.clear()
    p.push_documents(
        [{"id": f"x{i}", "pad": "y" * 400} for i in range(10)],
        max_update_records=1000,
        max_update_size_kb=1,
    )
    assert all(len(b) < 2500 for b in bodies) and len(bodies) > 1


def test_deletions_batch_as_id_lists():
    clock = FakeClock()
    bodies = []

    def transport(url, body, headers):
        if body is None:
            return 200, _cluster_body()
        bodies.append(json.loads(body))
        return 200, "ok"

    p = make_pusher(transport, clock, cluster_state_check_interval=0)
    p.push_deletions([str(i) for i in range(2500)], batch=1000)
    assert [len(b["delete"]) for b in bodies] == [1000, 1000, 500]


def test_push_dataframe_end_to_end(spark, tmp_path):
    """foreachPartition POST: a file-writing fake transport records every
    request from the executors; batches are bounded, the commit is one
    driver-side request, and a planted transient 503 is retried."""
    spill = str(tmp_path / "posts")
    os.makedirs(spill, exist_ok=True)

    df = spark.range(137).selectExpr(
        "concat('rec', id) AS id", "concat('Title ', id) AS title"
    )

    driver_pid = os.getpid()

    def make_transport(spill=spill, driver_pid=driver_pid):
        # fully self-contained: executors can't import the test module
        import os as _os
        import uuid as _uuid

        def transport(url, body, headers):
            if body is None:
                return 200, "{}"
            name = _os.path.join(spill, _uuid.uuid4().hex + ".json")
            with open(name, "w") as f:
                f.write(body)
            # one transient failure per EXECUTOR process to exercise the
            # retry path (the driver's commit stays single-shot)
            marker = _os.path.join(spill, f"fail-{_os.getpid()}")
            if _os.getpid() != driver_pid and not _os.path.exists(marker):
                with open(marker, "w") as f:
                    f.write("x")
                return 503, "transient"
            return 200, "ok"

        return transport

    push_dataframe(
        df,
        make_transport,
        update_url=UPDATE,
        workers=2,
        max_update_records=50,
        cluster_state_check_interval=0,
        max_update_tries=3,
        update_retry_wait=0,
    )
    bodies = []
    for fn in os.listdir(spill):
        if fn.endswith(".json"):
            with open(os.path.join(spill, fn)) as f:
                bodies.append(f.read())
    parsed = [json.loads(b) for b in bodies]
    commits = [b for b in parsed if isinstance(b, dict) and "commit" in b]
    updates = [b for b in parsed if isinstance(b, list)]
    assert len(commits) == 1  # exactly one driver-side commit
    # every batch bounded; retried batches appear twice — count UNIQUE ids
    assert all(len(u) <= 50 for u in updates)
    ids = {d["id"] for u in updates for d in u}
    assert ids == {f"rec{i}" for i in range(137)}
