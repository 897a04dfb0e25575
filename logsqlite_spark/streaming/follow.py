"""Follow mode constants — ``docker logs -f`` (T1; reference logger.rs:287-288, 395-455).

Reference behavior: stream history, then poll for new rows every 1 s
(``FOLLOW_WAKETIME``), give up after 3600 idle polls
(``FOLLOW_COUNTER_MAX``); the tail cap is disabled while following
(logger.rs:386).

The follow implementations live on the engine: ``Engine.follow_tail``
(driver-side spool tail; the HTTP route and CLI ``read --follow``) and
``Engine.follow_live`` (rows pushed by the ingest commit hook).
"""

FOLLOW_WAKETIME_S = 1.0
FOLLOW_COUNTER_MAX = 3600
FOLLOW_EMIT_BATCH = 10_000  # rows per yielded chunk during catch-up
