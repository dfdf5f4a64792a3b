#!/usr/bin/env python3
"""Executable two-strike regression policy for the STREAMING bench
(round-17 verdict #6 — the batch twin is pin_anchors.py --check).

StreamBench already prints a per-run `stream_check` ratio (this run's
rows_per_sec vs the median of the last <=3 prior same-identity history
entries). The interpretation discipline was prose in BASELINE.md; this
makes it executable over the committed stream_history.jsonl:

  - identity = (metric, engine, mode, tables, drops, sf), exactly
    StreamBench.emit's idKeys — runs are only ever compared within it;
  - for every entry, ratio_i = rows_per_sec_i / median(last <=3 prior
    same-identity entries) — recomputed here so the policy works on the
    raw committed history, no reliance on captured stdout;
  - a REGRESSION strike is ratio < 1/band (slower than the window band
    explains). Faster-than-median is never a strike;
  - ONE strike at the identity's tail is weather (exit 0, warning);
    TWO consecutive strikes ending at the tail is a regression (exit 2).

Band: the batch host band is 1.2-1.4x on byte-identical code; 10x
stream windows swing harder (ratios 1.26-2.10 observed on identical
code — the 10x-dir "s_session_timer" rows of stream_history.jsonl, kept
as history after that pipeline was retired). Default band is 1.5 for
the /root/testdata sf dirs and 2.2 for ScaleGen dirs (anything else);
--band overrides both.

Usage: python3 scripts/stream_check.py [stream_history.jsonl] [--band X]
"""
import json
import statistics
import sys

ID_KEYS = ("metric", "engine", "mode", "tables", "drops", "sf")
BAND_TESTDATA = 1.5
BAND_SCALEGEN = 2.2


def band_for(sf, override):
    if override is not None:
        return override
    return BAND_TESTDATA if str(sf).startswith("/root/testdata") else BAND_SCALEGEN


def check(path, band_override):
    series = {}  # identity -> [rows_per_sec, ...] in file order
    order = []
    for line in open(path):
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        rps = e.get("rows_per_sec")
        if not isinstance(rps, (int, float)):
            continue
        ident = tuple(e.get(k) for k in ID_KEYS)
        if ident not in series:
            series[ident] = []
            order.append(ident)
        series[ident].append(float(rps))
    if not series:
        print("stream_check: no rated entries in history — nothing to check",
              file=sys.stderr)
        return 0
    worst = 0
    for ident in order:
        vals = series[ident]
        band = band_for(ident[ID_KEYS.index("sf")], band_override)
        ratios = []
        for i, v in enumerate(vals):
            refs = vals[max(0, i - 3):i]
            ratios.append(v / statistics.median(refs) if refs else None)
        strikes = [r is not None and r < 1.0 / band for r in ratios]
        label = "/".join("-" if x is None else str(x) for x in ident)
        tail = ["%s%.2f" % ("!" if s else "", r) if r is not None else "n/a"
                for r, s in zip(ratios, strikes)][-4:]
        if strikes and strikes[-1] and len(strikes) >= 2 and strikes[-2]:
            print(f"TWO STRIKES {label}: last ratios {tail} — two consecutive "
                  f"runs slower than 1/{band}x of their trailing median; "
                  f"regression, not weather", file=sys.stderr)
            worst = max(worst, 2)
        elif strikes and strikes[-1]:
            print(f"STRIKE 1 of 2 {label}: latest ratio {tail[-1]} past the "
                  f"1/{band}x bar but the previous run was clean — "
                  f"re-evaluate on the next same-identity run", file=sys.stderr)
        else:
            print(f"ok {label}: n={len(vals)} last ratios {tail} (band {band})")
    return worst


def main():
    argv = sys.argv[1:]
    band = None
    if "--band" in argv:
        i = argv.index("--band")
        band = float(argv[i + 1])
        del argv[i:i + 2]
    path = argv[0] if argv else "stream_history.jsonl"
    return check(path, band)


if __name__ == "__main__":
    sys.exit(main())
