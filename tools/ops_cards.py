#!/usr/bin/env python3
"""Consolidate the serving-latency ops cards into ONE per-round
artifact (VERDICT r15 #6): the five latency mains (daemon, sparse
BM25, hybrid, classifier, tokenizer — graft.DaemonLatency and the
four cards of graft.LatencyCard) each print a single JSON line, but as separate runs their numbers were
only comparable by reading PLANS prose. This runs them sequentially
(one sbt/Spark at a time — a concurrent run would contaminate the
very latencies being measured), collects each card line, and writes
docs/ops_cards_r{N}.json so round-over-round serving-latency drift
is machine-comparable the way bench bands are.

Usage:
    python3 tools/ops_cards.py --round 16            # all five cards
    python3 tools/ops_cards.py --round 16 --only daemon,bm25
"""
import argparse
import json
import os
import re
import subprocess
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# card key -> (main class and arguments, the "metric" its JSON line carries)
CARDS = {
    "daemon": ("graft.DaemonLatency", "daemon_latency"),
    "bm25": ("graft.LatencyCard bm25", "bm25_latency"),
    "hybrid": ("graft.LatencyCard hybrid", "hybrid_latency"),
    "classifier": ("graft.LatencyCard classifier", "classifier_latency"),
    "tokenizer": ("graft.LatencyCard tokenizer", "tokenizer_latency"),
}


def run_card(main_class, metric):
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "-batch", f"runMain {main_class}"],
            cwd=REPO, capture_output=True, text=True, timeout=1800)
    except subprocess.TimeoutExpired as e:
        # record the timeout as a card-level err instead of aborting
        # the whole consolidation run (ADVICE r16) — cards already
        # collected still land in the artifact
        tail = (e.stdout or b"")
        if isinstance(tail, bytes):
            tail = tail.decode("utf-8", "replace")
        return {"err": f"timeout after {time.time() - t0:.0f}s",
                "tail": tail[-400:]}
    wall = time.time() - t0
    # whole-line parse (the daemon card nests per-table objects, so a
    # non-greedy brace match truncates); sbt prefixes stdout lines
    line = None
    prefix = '{"metric":"%s"' % metric
    for raw in proc.stdout.splitlines():
        cand = raw.split("] ", 1)[-1].strip() if raw.startswith("[") else raw.strip()
        if cand.startswith(prefix):
            line = cand
    if line is None:
        return {"err": f"no {metric} line (rc={proc.returncode}, "
                       f"wall={wall:.0f}s)",
                "tail": proc.stdout[-400:]}
    card = json.loads(line)
    card["runner_wall_sec"] = round(wall, 1)
    return card


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--only", default=None,
                    help="comma-separated card keys (default: all)")
    args = ap.parse_args()
    keys = args.only.split(",") if args.only else list(CARDS)
    unknown = [k for k in keys if k not in CARDS]
    if unknown:
        raise SystemExit(
            f"unknown card key(s) {unknown}; valid: {sorted(CARDS)}")
    path = os.path.join(REPO, "docs", f"ops_cards_r{args.round}.json")
    out = {"round": args.round, "cards": {}}
    for k in keys:
        main_class, metric = CARDS[k]
        print(f"[ops_cards] running {k} ({main_class}) ...", flush=True)
        try:
            out["cards"][k] = run_card(main_class, metric)
        except Exception as e:  # one bad card must not discard the rest
            out["cards"][k] = {"err": f"{type(e).__name__}: {e}"}
        print(f"[ops_cards] {k}: {json.dumps(out['cards'][k])}", flush=True)
        # write incrementally so a later crash keeps collected cards
        with open(path, "w") as f:
            json.dump(out, f, indent=2)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
