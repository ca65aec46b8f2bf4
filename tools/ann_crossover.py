"""ANN crossover probe: where does the quantized coarse-scan + exact
rescore start beating brute force end to end?

Builds scaled embedding corpora by replicating sf0.1's 5000 vectors
with id offsets (identical vector values — this probes SCAN/compute
cost, not recall, which the registry's recall queries measure on real
data), materializes the uint8 codes table at rest for each size, and
times both plans per corpus size. Evidence for SCALE.md's claim that
the sf0.1 gap is fixed job overhead that inverts with size.

Usage: python tools/ann_crossover.py [sizes...]   (default 5k..200k)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1/embeddings.parquet"
WORK = "/tmp/ann_crossover"
SIZES = [5_000, 20_000, 50_000, 100_000, 200_000]
RUNS = 3


def main() -> None:
    sizes = [int(s) for s in sys.argv[1:]] or SIZES
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("ann-crossover")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        brute_force_topk, ivf_topk_partitioned, pq_codebooks_from_first_k,
        pq_encode, pq_topk, quantized_cosine_topk, write_ivf_partitioned,
        write_quantized_codes)

    base = spark.read.parquet(SRC).select("vec_id", "embedding")
    n0 = base.count()
    import glob

    import pyarrow.parquet as pq
    probe_vec = pq.read_table(SRC, filters=[("vec_id", "=", 0)],
                              columns=["embedding"]) \
        .column("embedding")[0].as_py()
    model = [r.embedding for r in
             base.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]

    def dir_bytes(path: str) -> int:
        return sum(os.path.getsize(f) for f in
                   glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))

    pq_cb = None
    print(f"{'n':>8s} {'brute':>8s} {'quantized':>10s} {'q/b':>6s} "
          f"{'ivf_part':>9s} {'i/b':>6s} {'bytes_frac':>10s} "
          f"{'pq_adc':>7s} {'p/b':>6s}")
    for n in sizes:
        reps = (n + n0 - 1) // n0
        d = os.path.join(WORK, f"n{n}")
        if not os.path.isfile(os.path.join(d, "emb", "_SUCCESS")):
            rep = spark.range(reps).select(F.col("id").alias("rep"))
            emb = (base.crossJoin(rep)
                   .select((F.col("vec_id") + F.col("rep") * n0)
                           .alias("vec_id"), "embedding")
                   .filter(F.col("vec_id") < n))
            emb.write.mode("overwrite").parquet(os.path.join(d, "emb"))
            write_quantized_codes(spark.read.parquet(os.path.join(d, "emb")),
                                  os.path.join(d, "codes"))
        ivf_dir = os.path.join(d, "ivf")
        if not os.path.isfile(os.path.join(ivf_dir, "_SUCCESS")):
            # Replicas of vector v share v's cell, so the layout's cell
            # balance matches the base corpus at every size.
            write_ivf_partitioned(
                spark.read.parquet(os.path.join(d, "emb")), ivf_dir,
                centroids=model)
        emb = spark.read.parquet(os.path.join(d, "emb"))
        codes = spark.read.parquet(os.path.join(d, "codes"))
        if pq_cb is None:
            pq_cb = pq_codebooks_from_first_k(base, m=8, n_centroids=16,
                                              dim=len(probe_vec))
        pq_dir = os.path.join(d, "pqcodes")
        if not os.path.isfile(os.path.join(pq_dir, "_SUCCESS")):
            pq_encode(emb, pq_cb).write.mode("overwrite").parquet(pq_dir)
        pq_codes = spark.read.parquet(pq_dir)

        def best(f):
            t = float("inf")
            f()
            for _ in range(RUNS):
                t0 = time.perf_counter()
                f()
                t = min(t, time.perf_counter() - t0)
            return t

        tb = best(lambda: brute_force_topk(emb, 0, k=10).count())
        tq = best(lambda: quantized_cosine_topk(
            emb, 0, k=10, rescore_factor=5, codes=codes,
            probe_vec=probe_vec).count())
        ti = best(lambda: ivf_topk_partitioned(
            spark, ivf_dir, probe_vec, model, k=10,
            exclude_id=0).count())
        # File-level pruning win, measured in BYTES: an nprobe=1 search
        # opens only the probed cell directory; everything else is
        # pruned before any file opens. (The probed cell is derived with
        # ivf_topk_partitioned's own coordinator ranking — inputFiles()
        # can't be used, it lists the table PRE-pruning.)
        import math as _math
        pn = _math.sqrt(sum(x * x for x in probe_vec))

        def _cos(c):
            cn = _math.sqrt(sum(x * x for x in c))
            dd = sum(a * b for a, b in zip(probe_vec, c))
            return dd / (cn * pn) if cn and pn else 0.0

        cell0 = sorted(enumerate(model),
                       key=lambda t: (-_cos(t[1]), t[0]))[0][0]
        probed_bytes = dir_bytes(os.path.join(ivf_dir, f"cell={cell0}"))
        total_bytes = dir_bytes(ivf_dir)
        tp = best(lambda: pq_topk(emb, probe_vec, pq_cb, k=10,
                                  rescore_factor=5, exclude_id=0,
                                  codes=pq_codes).count())
        print(f"{n:8d} {tb:8.3f} {tq:10.3f} {tq / tb:6.2f} "
              f"{ti:9.3f} {ti / tb:6.2f} "
              f"{probed_bytes / total_bytes:10.3f} "
              f"{tp:7.3f} {tp / tb:6.2f}")


if __name__ == "__main__":
    main()
