"""Reference-shaped example clients that console commands and driver
queries call.

These are deployment EXAMPLES, not engine code: each shows how a real
client drops into the engine with its side-effecting part injected, so
tests and offline runs use a fake and a deployment passes a real
callable.

- ``solr_pusher``: Solr update/delete POSTs for ``solr-*`` commands
  (injected HTTP transport).
- ``log_sender``: error-log mail digests for ``logs-send`` (injected
  mailer).
- ``audio_fingerprint``: energy-delta audio fingerprints and near-dup
  pairs for the ``audio_neardup_docs`` driver query.
"""
