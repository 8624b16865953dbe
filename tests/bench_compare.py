"""Canary-normalized bench comparison: the variance discipline the
round-10 verdict asked to become code instead of prose.

Given two bench JSONs (the shape `bench.py` writes: per-query cold
(`queries`) and warm (`queries_warm`) walls, and per-query `layers`;
records up to r15 instead carry `canary_per_query` — a fixed-size
numpy GEMM timed next to each query, measuring host weather at that
moment), flag ONLY regressions that survive:

1. canary adjustment — a query that got 2x slower while its adjacent
   canary also got 2x slower is host noise, not plan decay:
   ``adj_ratio = (t_new / t_old) / clamp(c_new / c_old, 1, inf)``
   (clamped at 1 so a QUIETER host never hides a real regression; a
   record without canaries gets no adjustment, so compares stricter);
2. an absolute floor (default 0.2 s — sub-second jitter on micro
   queries is never actionable);
3. the per-query variance bands PARITY records from dedicated
   isolated A/B runs (e.g. jaccard_prefix_pairs' measured
   6.3-10.2 s warm spread, canary-uncorrelated) — inside the band is
   inside the weather.

Usage:
    python tests/bench_compare.py OLD.json NEW.json [--tier warm|cold]
        [--threshold 1.5] [--min-abs 0.2]

Prints one JSON line: {"flagged": [...], "checked": N, ...}; a
flagged query carries its `layers` entry for the compared tier from
both records (`{"old": {...}, "new": {...}}`) when both have one.
Exit 1 iff any regression survives all three filters.
"""

from __future__ import annotations

import json
import sys

# Measured per-query variance bands (PARITY.md records the runs).
# Values are MAX acceptable wall seconds at sf0.1 on this host class;
# below the band max, cross-round drift is JVM/GC scheduling variance.
BANDS_WARM_MAX = {
    # PARITY "jaccard_prefix_pairs drift": 6 isolated same-code runs
    # spread 6.30-10.24 s warm, canary-uncorrelated; re-flag > ~11 s
    "jaccard_prefix_pairs": 11.0,
    # PARITY "ohlc_hourly flag" (r13): canary-GATED A/B, 8 quiet reps
    # 0.249-0.314 s warm (median 0.28) — the r13 artifact's 0.513 s
    # was a mid-query burst missed by both bracketing canaries; a
    # burst inside a ~0.28 s micro query inflates ~2x without any
    # canary evidence, so the band covers the measured excursion
    # family; genuine plan decay (quiet reps > 0.55) still re-flags
    "ohlc_hourly": 0.55,
    # PARITY "stream_ohlc burst" (r13): canary-gated A/B, 8 quiet
    # reps 1.815-2.357 s warm (median 1.98 == the r12 record's
    # 1.988), 13 storm reps rejected — the r13 batch-1 artifact's
    # 3.096 s was a mid-query burst both bracketing canaries missed
    # (streaming gates add state-store/WAL I/O that CPU canaries
    # can't see). Genuine per-batch decay reads systematically, not
    # as one excursion; quiet reps > 3.3 re-flag.
    "stream_ohlc": 3.3,
    # PARITY "bpe_merge_pairs wake" (r14): canary-gated isolated A/B
    # on the r14 host class — 8 quiet reps 0.358-0.419 s warm
    # (median 0.378; 8 storm reps rejected), vs 0.92/1.415 s in two
    # quiet-canary BENCH records on the same tree. The excursion is
    # the late-session JIT wake that follows jaccard_prefix_pairs in
    # bench order (reproduced with a fill-then-measure harness; the
    # r14 verify-transport fix cut the wake's source 3-5x but a
    # micro query right behind the suite's biggest codegen plan
    # still reads 2-4x on first touch, with both canaries quiet —
    # compile contention is invisible to steady-state probes).
    # Genuine decay (e.g. losing the map-side partial aggregate)
    # reads multi-second AND slow in isolated quiet reps; > 1.5
    # re-flags.
    "bpe_merge_pairs": 1.5,
    # PARITY "Skew-guard probe cost": the r12 band-bucket guard adds
    # a DECLARED +0.2-0.3 s eager probe to every hamming-family call
    # (the last pre-guard record is r11-era, so the step shows up in
    # the r12->r13 column); quiet-host post-guard readings are
    # 0.76-0.91 s. The probe runs once per call, so every bench rep
    # pays it again. An unguarded quadratic regression would read
    # multi-second, far past these bands.
    "multimodal_phash_pairs": 1.2,
    "multimodal_audio_pairs": 1.1,
    "multimodal_video_pairs": 1.2,
}


def compare(old: dict, new: dict, *, tier: str = "warm",
            threshold: float = 1.5, min_abs: float = 0.2) -> dict:
    key = "queries_warm" if tier == "warm" else "queries"
    qo, qn = old.get(key) or {}, new.get(key) or {}
    co = old.get("canary_per_query") or {}
    cn = new.get("canary_per_query") or {}
    # second lens (r11 session-2): JVM codegen canary — catches the
    # CPU-steal mode the memory-bound GEMM misses (funnel-family read
    # 2x history on unchanged code while GEMM stayed quiet). Only
    # active when BOTH files carry it; the WORST lens wins.
    jo = old.get("jvm_canary_per_query") or {}
    jn = new.get("jvm_canary_per_query") or {}
    # per-query layers (build/exec/plan/JIT/GC ms, jobs, shuffle bytes)
    # name the cause of a flag; shown when both records carry them
    lo, ln = old.get("layers") or {}, new.get("layers") or {}
    go = old.get("canary_gemm_s") or 0.0
    gn = new.get("canary_gemm_s") or 0.0
    flagged, checked = [], 0
    for q in sorted(set(qo) & set(qn)):
        t0, t1 = qo[q], qn[q]
        if not t0 or t1 is None:
            continue
        checked += 1
        if t1 - t0 < min_abs:
            continue
        raw = t1 / t0
        c0 = co.get(q) or go
        c1 = cn.get(q) or gn
        # clamp: a noisier host excuses slowdown pro rata; a quieter
        # host never excuses anything
        host = max(c1 / c0, 1.0) if (c0 and c1) else 1.0
        if jo.get(q) and jn.get(q):
            host = max(host, jn[q] / jo[q])
        adj = raw / host
        if adj < threshold:
            continue
        band = BANDS_WARM_MAX.get(q) if tier == "warm" else None
        if band is not None and t1 <= band:
            continue
        flag = {"query": q, "old_s": t0, "new_s": t1,
                "raw_ratio": round(raw, 3),
                "canary_ratio": round(host, 3),
                "adj_ratio": round(adj, 3)}
        if q in lo and q in ln:
            flag["layers"] = {"old": lo[q][tier], "new": ln[q][tier]}
        flagged.append(flag)
    return {"tier": tier, "checked": checked, "threshold": threshold,
            "min_abs": min_abs,
            "canary_gemm_old": go, "canary_gemm_new": gn,
            "flagged": sorted(flagged, key=lambda f: -f["adj_ratio"])}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    opts = {"tier": "warm", "threshold": 1.5, "min_abs": 0.2}
    for flag, name, cast in (("--tier", "tier", str),
                             ("--threshold", "threshold", float),
                             ("--min-abs", "min_abs", float)):
        if flag in args:
            i = args.index(flag)
            opts[name] = cast(args[i + 1])
            del args[i:i + 2]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(args[0]) as f:
        old = json.load(f)
    with open(args[1]) as f:
        new = json.load(f)
    out = compare(old, new, **opts)
    print(json.dumps(out))
    return 1 if out["flagged"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
