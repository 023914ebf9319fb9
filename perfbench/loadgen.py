"""Open-loop load generator for the pubsub_live workload.

Runs as its own process with one thread, so a slow pipeline never slows
the schedule: message ``i`` is due at ``start + i / rate`` and is
published then, whatever the pipeline is doing.  Each payload carries
its due time; latency is measured from it, so a stall is charged to
every message that waits behind it.

Usage: python3 perfbench/loadgen.py TOPIC PLAN.json START REPORT.json

``PLAN.json`` holds ``{"rate": msgs_per_s, "payloads": [object, ...]}``;
``REPORT.json`` receives the generator's own lateness and per-publish
times once the plan is done.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    topic, plan_path, start, report_path = sys.argv[1:5]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from py_pubsub_pipeline_spark.sources.pubsub import publish

    with open(plan_path) as fh:
        plan = json.load(fh)
    rate, payloads = float(plan["rate"]), plan["payloads"]
    t0 = float(start)
    max_late = 0.0
    publish_ms = []
    for i, body in enumerate(payloads):
        due = t0 + i / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        msg = json.dumps({"due": due, **body}).encode()
        sent = time.time()
        max_late = max(max_late, sent - due)
        publish(topic, msg)
        publish_ms.append((time.time() - sent) * 1e3)
    with open(report_path, "w") as fh:
        json.dump({"max_late_s": max_late, "publish_ms": publish_ms}, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
