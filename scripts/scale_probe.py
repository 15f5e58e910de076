"""One scaling measurement: run the KG job at a given core count and print
a single JSON line.  Invoked under ``taskset`` to N cpus by bench.py so
the WHOLE process tree (JVM + python workers) is confined to N cores —
local[N] alone does not bound python-UDF workers, which would otherwise
overlap the JVM's cores and overstate small-N throughput.

The input corpus is materialized to parquet BEFORE timing starts: both
cluster sizes read the identical files, and corpus generation cost stays
out of the measured window.  Two warm-up passes retire python-worker
spin-up and JVM codegen; the best of 3 measured passes is reported.

Each timed pass also samples machine-wide CPU steal from /proc/stat —
this sandbox VM's hypervisor withholds a time-varying share of its
vCPUs, and a probe taken in a high-steal window understates the engine.
The steal figure lets bench.py (and the reader) see which measurements
were taken on a degraded box.
"""
import json
import os
import shutil
import sys
import tempfile
import time


def _cpu_counters():
    """(total_jiffies, steal_jiffies) from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except Exception:
        return 0, 0


def main():
    cores = int(sys.argv[1])
    n_docs = int(sys.argv[2])
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from vnlp_spark.session import get_spark
    from vnlp_spark.plans.corpus import generate_web_pages
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    s = get_spark(f"scale-{cores}", cores=cores)
    tmp = tempfile.mkdtemp(prefix="scale_corpus_")
    try:
        path = os.path.join(tmp, "docs")
        generate_web_pages(
            s, n_docs, unique_tail=True, n_partitions=cores * 4
        ).write.parquet(path)
        docs = s.read.parquet(path)

        def job(d):
            t0, st0 = _cpu_counters()
            w0 = time.monotonic()
            ntr = run_kg_pipeline(d).triples.count()
            sec = time.monotonic() - w0
            t1, st1 = _cpu_counters()
            steal = 100.0 * (st1 - st0) / max(t1 - t0, 1)
            return sec, ntr, round(steal, 1)

        # warm on the FULL input: a limit() slice runs too few partitions
        # to spin up all N python UDF workers, so the first measured pass
        # at 32-wide was still paying 32x worker startup (package import +
        # lexicon load per worker) and page-caching the 4x corpus — a
        # fixed cost a 100 TB deployment amortizes away, not steady-state
        # throughput (observed 71s -> 32s -> 18s pass trends at 32-wide)
        job(docs)
        job(docs)
        job(docs)  # 32-wide pass series still descends after two full
        # warm passes (25 -> 17.7 -> 10.9 -> 9.4s observed); a third
        # retires the remaining JIT/page-cache transient so measured
        # passes reflect the steady state a 100 TB run amortizes to
        passes = [job(docs) for _ in range(3)]
        best_sec, ntr, steal = min(passes, key=lambda p: p[0])
        print(json.dumps({
            "cores": cores,
            "sec": round(best_sec, 3),
            "triples": ntr,
            "triples_per_sec": round(ntr / best_sec, 1),
            "steal_pct": steal,
            "pass_secs": [round(p[0], 3) for p in passes],
        }))
        s.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
