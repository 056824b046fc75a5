"""Shared test helpers."""

from __future__ import annotations

import json
import os
import threading
import time


def read_manifests(eng) -> list[dict]:
    """All committed round manifests of a CrawlEngine, in round order."""
    out = []
    for f in sorted(os.listdir(eng.state_dir)):
        if f.startswith("round-") and f.endswith(".json"):
            with open(os.path.join(eng.state_dir, f)) as fh:
                out.append(json.load(fh))
    return out


def host_budgets_at(spark, eng, manifest) -> dict[str, int]:
    """AIMD-learned budgets as of a committed round: the host_state
    table read AT that round's manifest snapshot (requires the engine
    to run with snapshot_gc=False when reading non-HEAD history)."""
    return {
        r["host"]: int(r["budget"])
        for r in eng.host_state.read(
            spark, manifest["snapshots"]["host_state"]
        ).collect()
        if r["budget"] is not None
    }


def slow_background_fill(eng, delay: float = 1.5) -> list[int]:
    """Delay every selection fill that runs off the calling thread (the
    speculative next-round fill), so it is still running when the round
    that submitted it returns. Returns the list that each such fill
    appends its thread id to when it starts."""
    orig, caller, started = eng._fill, threading.get_ident(), []

    def fill(query):
        if threading.get_ident() != caller:
            started.append(threading.get_ident())
            time.sleep(delay)
        return orig(query)

    eng._fill = fill
    return started
