"""Live Solr HTTP pusher over the engine's network-free sink seam.

Behavioral spec (reference, NOT code): ``Base/Solr/SolrUpdater.php``
- ``solrRequest`` :1643-1708 — POST the JSON body to ``update_url``;
  on a transport exception OR status >= 300, warn and retry after
  ``update_retry_wait`` seconds, up to ``max_update_tries`` attempts
  (code default 15; ``conf/recordmanager.ini.sample:125-128`` documents
  5/30 as the sample values); the final failure raises with the status
  code (999 when no response was obtained at all).
- ``waitForClusterStateOk`` :2803-2831 — before every attempt, when
  ``cluster_state_check_interval`` > 0, poll the SolrCloud cluster
  state until 'ok'; 'error' results count against ``max_update_tries``,
  'degraded' waits indefinitely (the reference only bounds ERRORS, not
  degradation); each re-check sleeps the interval.
- ``checkClusterState`` :2833-2925 — GET ``admin_url`` zookeeper
  clusterstate, cache the verdict for the interval, and report
  'degraded' when any shard is outside the normal statuses or any
  replica is not 'active'; any transport/parse problem is 'error'.
- batching: documents buffer into ``[{doc},...]`` arrays bounded by
  ``max_update_records``/``max_update_size`` (:2944-3053 — the engine's
  ``sinks/solr.write_update_batches`` materializes exactly these
  boundaries); deletions post as ``{"delete": [ids]}``; the run ends
  with ``{"commit": {}}`` unless noCommit.

The transport is INJECTED as ``transport(url, body, headers) ->
(status, body)`` — tests pass a fake, deployments pass a urllib/requests
wrapper; the engine itself never opens a socket. ``sleeper``/``clock``
are injected the same way so the retry/backoff/health-pause discipline
is testable without wall-clock time.

Spark integration: :func:`push_dataframe` is the ``foreachPartition``
POST over the same bounded batches the file sink writes — partition
count bounds parallel POSTs (the reference's ``solr_update_workers``),
and each partition builds its own pusher from the picklable factory
args (a live transport cannot ship from the driver).
"""

from __future__ import annotations

import json
import time
from typing import Callable, Iterable

__all__ = [
    "SolrPusher",
    "make_urllib_transport",
    "push_dataframe",
]

# SolrUpdater.php:2878 ($normalShardStatuses)
NORMAL_SHARD_STATUSES = ("active", "inactive")


def make_urllib_transport(timeout: float | None = None):
    """Deployment transport: POST (or GET when body is None) via stdlib
    urllib. Returns (status_code, body_text); transport-level failures
    raise (the pusher's retry loop treats exceptions like the
    reference's HTTP_Request2 exceptions)."""
    import urllib.request

    def transport(url, body=None, headers=None):
        req = urllib.request.Request(
            url,
            data=body.encode("utf-8") if body is not None else None,
            headers=headers or {},
            method="POST" if body is not None else "GET",
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode("utf-8", "replace")

    return transport


class SolrPusher:
    """Retry + SolrCloud-health discipline around an injected transport.

    One instance per process/partition — it caches the last cluster
    verdict for ``cluster_state_check_interval`` seconds like the
    reference (:2846-2850).
    """

    def __init__(
        self,
        transport: Callable,
        *,
        update_url: str,
        admin_url: str | None = None,
        max_update_tries: int = 15,
        update_retry_wait: float = 60,
        cluster_state_check_interval: float = 30,
        sleeper: Callable = time.sleep,
        clock: Callable = time.time,
        log: Callable = lambda level, msg: None,
    ):
        self.transport = transport
        self.update_url = update_url
        self.admin_url = admin_url
        self.max_update_tries = max_update_tries
        self.update_retry_wait = update_retry_wait
        self.cluster_state_check_interval = cluster_state_check_interval
        self.sleeper = sleeper
        self.clock = clock
        self.log = log
        self._last_state_check = float("-inf")
        self._cluster_state = "ok"

    # -- cluster state (SolrUpdater.php:2833-2925) ----------------------
    def check_cluster_state(self) -> str:
        """'ok' | 'error' | 'degraded', cached for the check interval."""
        if self.clock() - self._last_state_check < self.cluster_state_check_interval:
            return self._cluster_state
        self._last_state_check = self.clock()
        url = (
            f"{self.admin_url}/zookeeper"
            "?wt=json&detail=true&path=%2Fclusterstate.json&view=graph"
        )
        try:
            code, body = self.transport(url, None, None)
        except Exception as e:  # transport failure == 'error' (:2857-2864)
            self.log("error", f"cluster state request failed: {e}")
            self._cluster_state = "error"
            return "error"
        if code != 200:
            self.log("error", f"cluster state request failed ({code})")
            self._cluster_state = "error"
            return "error"
        try:
            state = json.loads(body)
            data = json.loads(state["znode"]["data"])
        except Exception:
            self.log("error", "unable to decode zookeeper status")
            self._cluster_state = "error"
            return "error"
        for cname, collection in data.items():
            for sname, shard in collection.get("shards", {}).items():
                if shard.get("state") not in NORMAL_SHARD_STATUSES:
                    self.log(
                        "warning",
                        f"{cname}/{sname} not in usable state: {shard.get('state')}",
                    )
                    self._cluster_state = "degraded"
                    return "degraded"
                for replica in shard.get("replicas", {}).values():
                    if replica.get("state") != "active":
                        self.log(
                            "warning",
                            f"{cname}/{sname} replica not active: {replica.get('state')}",
                        )
                        self._cluster_state = "degraded"
                        return "degraded"
        self._cluster_state = "ok"
        return "ok"

    def wait_for_cluster_state_ok(self) -> bool:
        """Pause until the cluster reports ok (:2803-2831). Degradation
        waits indefinitely; only ERRORS count against max_update_tries.
        Disabled (always True) when the interval is <= 0."""
        if self.cluster_state_check_interval <= 0:
            return True
        errors = 0
        while True:
            state = self.check_cluster_state()
            if state == "ok":
                return True
            if state == "error":
                errors += 1
                if errors > self.max_update_tries:
                    self.log(
                        "error",
                        f"cluster state check failed after "
                        f"{self.max_update_tries} attempts",
                    )
                    return False
            self.log(
                "warning",
                f"retrying cluster state check in "
                f"{self.cluster_state_check_interval} seconds...",
            )
            self.sleeper(self.cluster_state_check_interval)

    # -- update request (SolrUpdater.php:1643-1708) ----------------------
    def solr_request(self, body: str) -> None:
        """POST ``body`` to update_url with the reference's retry loop:
        exception or status >= 300 → warn, sleep update_retry_wait,
        retry; raises RuntimeError with the final status (999 when no
        response) after max_update_tries."""
        if not self.wait_for_cluster_state_ok():
            raise RuntimeError("Failed to check that the cluster state is ok")
        headers = {"Content-Type": "application/json"}
        response: tuple | None = None
        for attempt in range(1, self.max_update_tries + 1):
            try:
                if not self.wait_for_cluster_state_ok():
                    raise RuntimeError(
                        "Failed to check that the cluster state is ok"
                    )
                response = self.transport(self.update_url, body, headers)
            except Exception as e:
                if attempt < self.max_update_tries:
                    self.log(
                        "warning",
                        f"Solr request failed ({e}), retrying in "
                        f"{self.update_retry_wait} seconds...",
                    )
                    self.sleeper(self.update_retry_wait)
                    continue
                raise
            if attempt < self.max_update_tries and response[0] >= 300:
                self.log(
                    "warning",
                    f"Solr request failed ({response[0]}), retrying in "
                    f"{self.update_retry_wait} seconds...",
                )
                self.sleeper(self.update_retry_wait)
                continue
            break
        code = 999 if response is None else response[0]
        if code >= 300:
            raise RuntimeError(f"Solr server request failed ({code})")

    # -- batch bodies (SolrUpdater.php:2944-3053) ------------------------
    def push_documents(
        self, docs: Iterable[dict], max_update_records: int = 5000,
        max_update_size_kb: int = 1024,
    ) -> int:
        """Buffer documents into bounded ``[{doc},...]`` requests — the
        record-count AND byte-size caps of the reference's buffered
        update. Returns the number of requests posted."""
        posted = 0
        buf: list[str] = []
        buf_len = 0
        for doc in docs:
            j = json.dumps(doc, default=str)
            buf.append(j)
            buf_len += len(j)
            if len(buf) >= max_update_records or buf_len >= max_update_size_kb * 1024:
                self.solr_request("[" + ",\n".join(buf) + "]")
                posted += 1
                buf, buf_len = [], 0
        if buf:
            self.solr_request("[" + ",\n".join(buf) + "]")
            posted += 1
        return posted

    def push_deletions(self, ids: Iterable[str], batch: int = 1000) -> int:
        """Buffered deletions as ``{"delete": [ids]}`` requests."""
        posted = 0
        pending: list[str] = []
        for i in ids:
            pending.append(str(i))
            if len(pending) >= batch:
                self.solr_request(json.dumps({"delete": pending}))
                posted += 1
                pending = []
        if pending:
            self.solr_request(json.dumps({"delete": pending}))
            posted += 1
        return posted

    def commit(self) -> None:
        self.solr_request('{ "commit": {} }')


def push_dataframe(
    df,
    make_transport: Callable[[], Callable],
    *,
    update_url: str,
    workers: int | None = None,
    max_update_records: int = 5000,
    no_commit: bool = False,
    **pusher_kwargs,
) -> None:
    """foreachPartition POST of a Solr-document DataFrame.

    ``make_transport`` is a zero-arg PICKLABLE factory — each partition
    builds its own transport/pusher (sockets don't serialize). Partition
    count bounds parallel POSTs (``workers`` = the reference's
    ``solr_update_workers``); each partition's rows batch into the same
    bounded requests as the file sink. The final commit is ONE request
    from the driver after every partition finished — the reference
    commits once per run, not per worker.
    """
    out = df.repartition(workers) if workers else df

    def part(rows):
        pusher = SolrPusher(
            make_transport(), update_url=update_url, **pusher_kwargs
        )
        pusher.push_documents(
            (r.asDict(recursive=True) for r in rows),
            max_update_records=max_update_records,
        )

    out.foreachPartition(part)
    if not no_commit:
        SolrPusher(
            make_transport(), update_url=update_url, **pusher_kwargs
        ).commit()
