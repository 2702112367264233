"""Interleaved fresh-subprocess A/B of spark.io.compression.codec on
the headline pipeline: a fresh JVM per run, pinned to CPUs 0..cpus-1,
best of interleaved reps.

Usage: python tools/ab_codec.py [cpus] [reps] [entities]
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs with cwd=ROOT, so `python -c` imports bench from the checkout
WORKER = """
import json, sys
from bench import make_spark, run_pipeline
codec, cpus, ents = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = make_spark(cpus, f"ab-{codec}", conf={"spark.io.compression.codec": codec})
spark.sparkContext.setLogLevel("ERROR")
run_pipeline(spark, 2000)
w, nt, p, r, _ = run_pipeline(spark, ents)
spark.stop()
print(json.dumps({"codec": codec, "tps": round(nt / w, 1)}))
"""


def main():
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    ents = int(sys.argv[3]) if len(sys.argv) > 3 else 400000
    best = {"lz4": 0.0, "zstd": 0.0}
    for rep in range(reps):
        for codec in ("lz4", "zstd"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c",
                   WORKER, codec, str(cpus), str(ents)]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=3600, cwd=ROOT)
            lines = [l for l in proc.stdout.strip().splitlines()
                     if l.startswith("{")]
            if proc.returncode != 0 or not lines:
                print(f"rep {rep} {codec} failed: "
                      + "\n".join(proc.stderr.splitlines()[-3:]),
                      file=sys.stderr)
                continue
            r = json.loads(lines[-1])
            best[codec] = max(best[codec], r["tps"])
            print(json.dumps({"rep": rep, **r}), flush=True)
    print(json.dumps({"cpus": cpus, "best": best,
                      "zstd_over_lz4": round(best["zstd"] / max(best["lz4"], 0.1), 3)}))


if __name__ == "__main__":
    main()
