"""Self-check of the benchmark. Run from the repository root:

    python3 steadybench/selfcheck.py [--seed 7] [--ops 14]

For each workload it makes two traced runs with the same seed and a fixed
number of timed ops, and checks that
  - all 14 named end-to-end figures print, each with a unit;
  - every output check passed;
  - the count-based values repeat exactly: merge files touched, rows
    removed by dedupe and retention, files selected and manifests opened
    by scans, and Spark jobs per op;
  - write_amp and space_amp over data files repeat within 10%. They cannot
    repeat exactly: the engine names every written file with a random
    UUID, and rewrites read their inputs in name order, so row order
    inside rewritten files, and with it their compressed size, varies.
It then runs the fully-quoted drop probe and reports how many drops hit
the known dialect-detection defect (a detection sample that ends inside a
quoted field). Exits non-zero if any check fails.
"""
import argparse
import json
import os
import re
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
NAMES = ["setup_s", "peak_rss_mb", "fail_frac", "cpu_s_per_kturn", "drop_s_p50",
         "drop_s_tail", "ingest_turns_per_s", "tick_s_p50", "absorb_turns_per_s",
         "read_s_p50", "read_s_tail", "scan_s_p50", "write_amp", "space_amp"]
REPEAT = ["maintain.merge_files_touched", "maintain.dedupe_rows", "maintain.retention_rows",
          "lake.files_selected_frac", "lake.manifests_opened_frac", "spark.jobs"]
CLOSE = ["data_write_amp", "data_space_amp"]


def run(workload, seed, ops):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", "1000", "--trace", "1", "--ops", str(ops)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload}: run failed with code {out.returncode}")
    lines = out.stdout.splitlines()
    result = json.loads(lines[-1])
    figures = dict(re.match(r"METRIC (\S+) = (.*)", l).groups()
                   for l in lines if l.startswith("METRIC "))
    counts = {m: result["metrics"][m]["value"] for m in REPEAT}
    amp = {}
    for l in lines:
        m = re.match(r"AMP data_write_amp=(\S+) data_space_amp=(\S+)", l)
        if m:
            amp = dict(zip(CLOSE, map(float, m.groups())))
    return result, figures, counts, amp, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--ops", type=int, default=14)
    a = ap.parse_args()
    ok = True
    for w in ("drop_ingest", "lake_read"):
        r1, f1, c1, a1, _ = run(w, a.seed, a.ops)
        r2, f2, c2, a2, _ = run(w, a.seed, a.ops)
        missing = [n for n in NAMES if n not in f1 or len(f1[n].split()) != 2]
        same = c1 == c2
        close = all(abs(a1[k] - a2[k]) <= 0.1 * max(a1[k], a2[k]) for k in CLOSE)
        good = not missing and r1["correct"] and r2["correct"] and same and close
        ok &= good
        print(f"{w}: names {'all 14 print' if not missing else 'MISSING ' + ','.join(missing)}; "
              f"checks {'pass' if r1['correct'] and r2['correct'] else 'FAIL'}; "
              f"counts {'repeat' if same else 'DIFFER'} {c1}" + ("" if same else f" vs {c2}") +
              f"; amplification {'within 10%' if close else 'DIFFERS'} {a1} vs {a2}")
    _, _, _, _, lines = run("quoted_probe", a.seed, 6)
    drops = {m.group(1) for m in (re.match(r"FAIL drop (\d+): .*", l) for l in lines) if m}
    rejected = [l for l in lines if re.match(r"FAIL drop \d+: \d+ rows rejected", l)]
    print(f"quoted_probe: {len(rejected)} fully-quoted drops had their rows rejected, "
          f"{len(drops)} drop ops failed a check (known detection defect when the 8 KB "
          f"sample ends inside a quoted field; later drops fail the row count as a result)")
    for l in rejected[:3]:
        print("  " + l)
    print("selfcheck " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
