"""`logs send` analogue: drain the stored log-message table into
batched email reports over an injected mailer.

Behavioral spec (reference, NOT code): ``Command/Logs/Send.php:73-128``
- drain the stored log messages in batches of 100; each batch becomes
  ONE email ("RecordManager log summary:" + one line per message),
  subject "RecordManager Log Report (<host>)";
- line format: ``YYYY-mm-dd HH:MM:SS [pid] [LEVEL] [context] message``;
- a line longer than 4096+50 chars is truncated to its first and last
  2048 chars around a ``[... Truncated - See log for full message ...]``
  marker (email digestibility — the full text stays in the log store
  until the batch is sent);
- messages DELETE only after their batch's mail call succeeds, so a
  failed send loses nothing; a send failure aborts with an error;
- loop until the store is empty, then report the total count.

The mailer is INJECTED as ``mailer(recipient, subject, body) -> bool``
(the Solr transport/Nominatim seam pattern): tests pass a recorder,
deployments pass :func:`make_smtp_mailer` or a file-sink writer. The
log store is a JSON-lines file (the engine's stores are files; the
reference reads its database log collection).
"""

from __future__ import annotations

import datetime
import json
import os
import socket
from typing import Callable

TRUNCATE_AT = 4096 + 50
KEEP = 2048
MARKER = "\n\n[... Truncated - See log for full message ...]\n\n"

LEVELS = {1: "DEBUG", 2: "INFO", 3: "WARNING", 4: "ERROR", 5: "FATAL"}


def _format_line(rec: dict) -> str:
    ts = rec.get("timestamp", 0)
    stamp = datetime.datetime.fromtimestamp(
        ts, datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    level = rec.get("level", 2)
    level = LEVELS.get(level, str(level)) if isinstance(level, int) else level
    line = (
        f"{stamp} [{rec.get('pid', 0)}] [{level}] "
        f"[{rec.get('context', '')}] {rec.get('message', '')}"
    )
    if len(line) > TRUNCATE_AT:
        line = line[:KEEP] + MARKER + line[-KEEP:]
    return line


def file_log_store(path: str):
    """(read_batch, delete_batch) over a JSON-lines log file. Each line
    is {"_id": ..., "timestamp": unix, "pid": ..., "level": int|str,
    "context": ..., "message": ...}. delete rewrites the file without
    the sent records — the file analogue of deleteLogMessage.

    Deletion is by LINE POSITION (stamped into each record at read
    time as ``__line``), never by ``_id`` value: a store whose records
    lack ids (or repeat one) must only ever lose exactly the lines that
    were mailed — deleting by id would destroy every same-id/no-id
    line in the file after the first batch (r11 review finding)."""

    def read_batch(limit: int) -> list[dict]:
        if not os.path.exists(path):
            return []
        out = []
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh):
                if line.strip():
                    rec = json.loads(line)
                    rec["__line"] = i
                    out.append(rec)
                    if len(out) >= limit:
                        break
        return out

    def delete_batch(batch: list[dict]) -> None:
        gone = {r["__line"] for r in batch}
        kept = []
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh):
                if i not in gone and line.strip():
                    kept.append(line)
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(kept)

    return read_batch, delete_batch


def make_smtp_mailer(
    host: str, port: int = 25, sender: str = "recordmanager@localhost"
):
    """Deployment mailer via stdlib smtplib; returns True on accepted
    delivery (the reference's mail() boolean)."""
    import smtplib
    from email.message import EmailMessage

    def mailer(recipient: str, subject: str, body: str) -> bool:
        msg = EmailMessage()
        msg["From"] = sender
        msg["To"] = recipient
        msg["Subject"] = subject
        msg.set_content(body)
        with smtplib.SMTP(host, port) as smtp:
            smtp.send_message(msg)
        return True

    return mailer


def send_logs(
    read_batch: Callable,
    delete_batch: Callable,
    mailer: Callable,
    recipient: str,
    batch_size: int = 100,
) -> int:
    """Drain the log store into batched reports; returns the total
    message count sent. Raises on a mailer failure WITHOUT deleting the
    failed batch (Send.php:118-121 aborts; re-running resumes).
    ``delete_batch`` receives the exact batch records ``read_batch``
    returned, so stores can delete by position/identity, not id."""
    count = 0
    subject = f"RecordManager Log Report ({socket.gethostname()})"
    while True:
        batch = read_batch(batch_size)
        if not batch:
            break
        body = "RecordManager log summary:\n\n" + "\n".join(
            _format_line(r) for r in batch
        )
        if not mailer(recipient, subject, body):
            raise RuntimeError("Failed to send email")
        delete_batch(batch)
        count += len(batch)
    return count
