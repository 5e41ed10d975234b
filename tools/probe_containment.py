"""Round-14 attribution probe for containment_join (VERDICT r13 #1):
times each internal stage of operators.dedup.containment_pairs with
wall + process-tree CPU deltas, with the rarity build pre-warmed the
way the bench's pinned ``_build_dedup_rarity`` row does.

The "gather verify" stage deliberately measures the r13 baseline
verify path: ``mapInPandas`` at about 50k candidate pairs per task. It
does not exercise the shipped ``mapInArrow`` path at 100k pairs per
task, so its stage timings are a baseline for comparison, not a
profile of what ``containment_pairs`` runs today. Only the last
(declared query, end-to-end) timing runs the shipped code.

Usage: python tools/probe_containment.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import jvm_cpu_seconds  # noqa: E402
from df_spark.operators import dedup as D  # noqa: E402
from df_spark.plans.memo import clear_all_memos  # noqa: E402
from df_spark.session import get_spark  # noqa: E402
from df_spark.sources.tables import load_sdf  # noqa: E402


def stage(label, fn):
    c0 = jvm_cpu_seconds()
    t0 = time.time()
    out = fn()
    print(f"  {label:34s} wall={time.time() - t0:6.2f}  cpu={jvm_cpu_seconds() - c0:7.2f}")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("probe_containment", short_lived=True)
    docs = load_sdf(spark, sf_dir, "documents")
    t20 = 16  # 0.8 * 20
    pcols = ["source"]

    for rep in range(reps):
        print(f"rep {rep}:")
        clear_all_memos()
        stage("rarity_build (cold, = _build row)",
              lambda: D._rarity_build(docs, "doc_id", "text", 7, pcols))
        sh, arrays = D._rarity_build(docs, "doc_id", "text", 7, pcols)

        pa = (F.col("sz") - F.ceil(F.lit(0.8) * F.col("sz")) + 1).cast("int")
        prefix_a = arrays.select(
            F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"),
            *[F.col(c) for c in pcols],
            F.posexplode(F.slice("__arr", F.lit(1), pa)).alias("__pos", "__e"),
        ).select(
            "id_a", "sa", *[F.col(c) for c in pcols],
            (F.col("__pos") + 1).alias("rk_a"), F.col("__e.h").alias("h"),
        )
        inv_b = arrays.select(
            F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"),
            *[F.col(c) for c in pcols],
            F.posexplode("__arr").alias("__pos", "__e"),
        ).select(
            "id_b", "sb", *[F.col(c) for c in pcols],
            (F.col("__pos") + 1).alias("rk_b"), F.col("__e.h").alias("h"),
        )
        cand_plan = (
            prefix_a.join(inv_b, ["h", *pcols])
            .filter(
                (F.col("id_a") != F.col("id_b"))
                & (F.lit(20) * F.col("sb") >= F.lit(t20) * F.col("sa"))
                & ((F.lit(1) + F.least(
                        F.col("sa") - F.col("rk_a"),
                        F.col("sb") - F.col("rk_b"))) * F.lit(20)
                   >= F.lit(t20) * F.col("sa"))
            )
            .select("id_a", "id_b", "sa")
            .distinct()
        )
        cand = stage("candidate join+distinct+ckpt",
                     lambda: cand_plan.localCheckpoint(eager=True))
        n_cand = stage("cand.count", lambda: cand.count())
        n_sh = stage("sh.count", lambda: sh.count())
        print(f"    n_cand={n_cand} n_sh={n_sh}")

        ha = stage("arrays toPandas", lambda: (
            arrays.select(
                F.col("doc_id"),
                F.transform("__arr", lambda x: x["h"]).alias("__ha"))
            .toPandas().sort_values("doc_id")))

        def bitmap_build():
            import numpy as np
            ids_np = np.ascontiguousarray(ha["doc_id"].to_numpy(np.int64))
            lens = ha["__ha"].map(len).to_numpy(np.int64)
            flat = np.concatenate(ha["__ha"].to_list()).astype(np.int64)
            vocab = np.unique(flat)
            n_words = (len(vocab) + 63) // 64
            bit = np.searchsorted(vocab, flat)
            doc_idx = np.repeat(np.arange(len(ids_np)), lens)
            wbits = np.zeros((len(ids_np), n_words), np.uint64)
            np.bitwise_or.at(
                wbits, (doc_idx, bit >> 6),
                np.uint64(1) << (bit & 63).astype(np.uint64))
            return ids_np, lens, wbits

        ids_np, lens, wbits = stage("driver bitmap build", bitmap_build)
        print(f"    n_docs={len(ids_np)} words/doc={wbits.shape[1]}")

        bc = spark.sparkContext.broadcast((ids_np, lens, wbits))
        par = spark.sparkContext.defaultParallelism
        width = max(1, min(n_cand // 50_000 + 1, 8 * par))
        print(f"    gather width={width}")

        def gen(batches):
            import numpy as np
            import pandas as pd
            ids, nsz, words = bc.value
            pop8 = np.unpackbits(
                np.arange(256, dtype=np.uint8)[:, None], axis=1
            ).sum(axis=1).astype(np.int64)
            for pdf in batches:
                ia = pdf["id_a"].to_numpy(np.int64)
                ib = pdf["id_b"].to_numpy(np.int64)
                a = np.searchsorted(ids, ia)
                b = np.searchsorted(ids, ib)
                inter = (
                    pop8[(words[a] & words[b]).view(np.uint8)]
                    .reshape(len(ia), -1)
                    .sum(axis=1, dtype=np.int64)
                )
                sa = nsz[a]
                keep = 20 * inter >= 16 * sa
                yield pd.DataFrame(
                    {"id_a": ia[keep], "id_b": ib[keep],
                     "sa": sa[keep], "c": inter[keep]})

        gathered = cand.select("id_a", "id_b").repartition(width).mapInPandas(
            gen, schema="id_a long, id_b long, sa long, c long")
        out = gathered.filter(
            F.lit(20) * F.col("c") >= F.lit(t20) * F.col("sa")
        ).select(
            "id_a", "id_b", F.col("c").alias("n_common"),
            F.round(F.col("c").cast("double") / F.col("sa").cast("double"),
                    6).alias("containment"),
        )
        stage("gather verify + noop", lambda: out.write.format("noop")
              .mode("overwrite").save())

        # and the declared query end-to-end, warm build
        from df_spark.queries import load_registry
        reg = load_registry()
        stage("declared containment_join (e2e)", lambda: reg[
            "containment_join"].fn(spark, sf_dir).write.format("noop")
            .mode("overwrite").save())


if __name__ == "__main__":
    main()
