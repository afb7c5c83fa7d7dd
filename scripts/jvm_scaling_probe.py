#!/usr/bin/env python
"""Control probe for the N->4N scaling analysis (BENCH/BASELINE.md):
how does a PURE-JVM whole-stage-codegen job (8 regexp passes + split,
zero Python) thread-scale 4->16 on this box?

Measured (3 interleaved rounds, fresh JVM each): best_4 14.43 s,
best_16 11.39 s -> ratio 1.27x, efficiency 0.317 — far BELOW the
pandas-UDF extraction pipeline's 0.776 on the same pair. Interpretation:
single-JVM thread scaling for allocation-heavy string work is bounded by
the shared heap (GC) and host overcommit, not by pipeline structure; the
extraction pipeline — whose workers are separate Python processes with
private heaps — sits closer to the box's practical ceiling than codegen
itself. A real cluster's 4x executors bring 4x heaps and memory
bandwidth, which is the regime the criterion describes.
"""
import json, os, subprocess, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r'''
import sys, time
sys.path.insert(0, sys.argv[2])
from pyspark.sql import functions as F
from ocr_obsidian_spark.session import build_session
cpus = int(sys.argv[1])
spark = build_session("jvmprobe", f"local[{cpus}]", shuffle_partitions=cpus)
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
copies = [docs.select((F.col("doc_id")+1_000_000*k).alias("doc_id"), "text") for k in range(64)]
big = copies[0]
for c in copies[1:]:
    big = big.unionByName(c)
big = big.repartition(cpus).persist()
big.count()
norm = F.lower(F.trim(F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\s+", " ")))
terms = []
for pat in ["[^a-z]", "[aeiou]", "[0-9]", "[^a-z0-9 ]", "(?:the|and|of)", "[a-m]", "[n-z]", "\\. "]:
    terms.append(F.length(F.regexp_replace(norm, pat, "")))
expr = F.sum(sum(terms[1:], terms[0]) + F.size(F.split(norm, " ")))
big.sample(0.05, seed=1).agg(expr).collect()
t0 = time.monotonic()
big.agg(expr).collect()
print(f"WALL {time.monotonic()-t0:.3f}")
spark.stop()
'''

def run(cpus):
    out = subprocess.run([sys.executable, "-c", CHILD, str(cpus), ROOT],
                         capture_output=True, text=True, timeout=900)
    for line in out.stdout.splitlines():
        if line.startswith("WALL"):
            return float(line.split()[1])
    raise RuntimeError(out.stderr[-2000:])

samples = {4: [], 16: []}
for r in range(3):
    for c in (4, 16):
        w = run(c)
        samples[c].append(w)
        print(f"round {r+1} local[{c}]: {w:.2f}s", flush=True)
b4, b16 = min(samples[4]), min(samples[16])
print(json.dumps({"best_4": b4, "best_16": b16, "ratio": round(b4/b16, 2), "eff_4to16_jvm_only": round((b4/b16)/4, 3)}))
