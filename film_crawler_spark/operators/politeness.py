"""Per-host politeness: a count budget per iteration, plus per-host
request pacing inside executor partitions.

The reference sleeps 2 s before *every* HTML request on every thread
(reference spiders.py:78, 136) and leaves media downloads unthrottled
(spiders.py:2981-2998 — no sleep). The engine splits that contract in
two:

* the *count* budget (requests/host/iteration) is enforced in ONE
  place, before any fetch runs: the frontier dequeue caps each
  (host, kind-group) at its budget per iteration (salting happens inside the
  dequeue's two-phase window, so the cap is exact under skew), and
  one-shot jobs without an iteration loop get the same cap from
  ``fetch_drain``'s per-pass dequeue. Every dequeued row is fetched;
* the *rate* (min delay between requests to one host) is kept by the
  ``TokenBucket`` — when delay_s > 0 the fetch stage routes ALL of one
  host's page requests into a single task (sorted by priority, seq), so
  the bucket is a plain in-process structure, no cross-executor
  coordination. It only paces; it never refuses a request.

The budget is deliberately independent of cluster parallelism: scaling
from N to 4N executors must not multiply pressure on a host (BASELINE.md
scaling runs hold the budget fixed).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class PolitenessConfig:
    budget_html: int = 64  # requests/host/iteration, page fetches
    budget_img: int = 512  # media fetches (reference throttles these less)
    delay_s: float = 0.0  # min inter-request delay per host (2.0 in the
    # reference; 0 in sandbox bench so throughput measures the engine,
    # not sleep())
    retry_cap_500: int = 20  # reference spiders.py:124-131
    retry_cap_media: int = 20  # reference spiders.py:4266


@dataclass
class TokenBucket:
    """One fetch task's per-host pacing state. Not thread-safe — a Spark
    task is single-threaded by design."""

    delay_s: float = 0.0
    last_at: dict = field(default_factory=dict)

    def pace(self, host: str) -> None:
        """Sleep until ``delay_s`` has passed since host's last request."""
        t = time.monotonic()
        wait = self.last_at.get(host, -1e18) + self.delay_s - t
        if wait > 0:
            time.sleep(wait)
            t += wait
        self.last_at[host] = t
