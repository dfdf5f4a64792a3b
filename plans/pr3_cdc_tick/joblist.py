"""Per-tick Spark job list from a traced perfbench CDC run.

    python3 plans/pr3_cdc_tick/joblist.py perfbench/.runs/<run>/spans.jsonl BATCH_ID...

For each micro-batch it prints the tick's wall time and every job the
tick ran, in start order: job id, duration, the gap since the end of the
previous job (the tick start for the first job), and the job's label (its
description when one was set, else its call site). A negative gap means
the job started while the previous one was still running.
"""
import json
import sys


def main(path, batch_ids):
    spans = [json.loads(line) for line in open(path)]
    ticks = {s["batchId"]: s for s in spans if s["name"] == "tick"}
    for b in batch_ids:
        t = ticks[b]
        jobs = sorted((s for s in spans if s["name"] == "job" and s["parent"] == t["id"]),
                      key=lambda s: s["start_ms"])
        print(f"tick batchId={b} wall={t['end_ms'] - t['start_ms']:.0f} ms jobs={len(jobs)}")
        print(f"{'#':>3} {'job':>5} {'dur_ms':>7} {'gap_ms':>7}  label")
        prev = t["start_ms"]
        for i, j in enumerate(jobs, 1):
            print(f"{i:>3} {j['job']:>5} {j['end_ms'] - j['start_ms']:>7.0f} "
                  f"{j['start_ms'] - prev:>7.0f}  {j.get('callSite', '')}")
            prev = j["end_ms"]
        print(f"    after the last job: {t['end_ms'] - prev:.0f} ms")
        print()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
