"""Detector training as a process of its own, the way the package's
``train`` command runs before the ``pipeline`` command.

    python3 perfbench/train.py OUT_DIR [--trace 1]

Writes a seeded training CSV (``TRAIN_INVOICES`` normal invoices, one fixed
seed), fits k=5 KMeans and k=3 BisectingKMeans (the reference's picks)
through ``load_and_featurize_training_csv``, ``train_sweep`` (one k each),
``distance_to_centroid`` and ``compute_threshold``, and saves both with
``save_detector`` under ``OUT_DIR/kmeans`` and ``OUT_DIR/bisecting``.
``OUT_DIR/trained.json`` records each detector's k and threshold, the time
and (with ``--trace 1``) the Spark jobs of each call, and the checks: each
threshold must equal the ``THRESHOLD_K``-th largest training distance
computed on the driver.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TRAIN_SEED = 0
TRAIN_INVOICES = 2000
THRESHOLD_K = TRAIN_INVOICES // 100  # the top 1% of training distances
DETECTORS = (("kmeans", 5), ("bisecting", 3))


def scratch_env(scratch: str) -> None:
    """Point the scratch paths of Spark, of its JVMs and of Python into
    ``scratch``, before the first session starts."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit runs before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def gc_log(scratch: str) -> str:
    """The driver JVM's log of its heap's address range and its collections."""
    return os.path.join(scratch, "tmp", "gc.log")


def session(app_name: str, scratch: str):
    """The package's session (its default driver memory included), with
    every scratch path inside ``scratch`` and a GC log in ``gc_log``."""
    from spark_streaming_invoice_anomaly_detection_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name=app_name,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xlog:gc=info,gc+heap+coops=debug:file={gc_log(scratch)}"
            ),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "hadoop"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )


def train(spark, out_dir: str, trace: bool) -> dict:
    from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import (
        Detector,
        assemble_features,
        compute_threshold,
        distance_to_centroid,
        save_detector,
        train_sweep,
    )
    from spark_streaming_invoice_anomaly_detection_spark.sources.csv_batch import (
        load_and_featurize_training_csv,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import FEATURE_ORDER

    from invoices import write_training_csv
    from tracing import Tracer, job_group

    tracer = Tracer(trace)
    layers: dict[str, float] = {}
    jobs: dict[str, int] = {}

    def timed(layer, fn):
        t = time.perf_counter()
        with tracer.span(layer), job_group(spark, tracer, jobs, layer):
            out = fn()
        layers[layer] = layers.get(layer, 0.0) + time.perf_counter() - t
        return out

    os.makedirs(out_dir, exist_ok=True)
    csv = os.path.join(out_dir, "train.csv")
    write_training_csv(csv, TRAIN_SEED, TRAIN_INVOICES)

    def featurize():
        f = assemble_features(load_and_featurize_training_csv(spark, csv), FEATURE_ORDER).persist()
        f.count()
        return f

    feats = timed("sources.csv_batch.featurize", featurize)
    detectors, failed = {}, 0
    for algo, k in DETECTORS:
        models, _costs = timed(f"ml.clustering.sweep_{algo}", lambda: train_sweep(feats, algo, range(k, k + 1)))
        scored = distance_to_centroid(feats, models[0])
        threshold = timed("ml.clustering.threshold", lambda: compute_threshold(scored, THRESHOLD_K))
        dists = sorted((r.dist for r in scored.select("dist").collect()), reverse=True)
        failed += dists[THRESHOLD_K - 1] != threshold or len(models[0].clusterCenters()) != k
        det = Detector(model=models[0], threshold=threshold, algo=algo)
        timed("ml.clustering.save", lambda: save_detector(det, os.path.join(out_dir, algo)))
        detectors[algo] = {"k": k, "threshold": threshold}
    feats.unpersist()
    return {
        "detectors": detectors,
        "layers": layers,
        "jobs": jobs,
        "attempted": len(DETECTORS),
        "failed": int(failed),
        "spans": tracer.spans,
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("out_dir")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    sys.path.insert(0, ROOT)
    scratch_env(a.out_dir)
    spark = session("perfbench-train", a.out_dir)
    try:
        result = train(spark, a.out_dir, bool(a.trace))
    finally:
        spark.stop()
    with open(os.path.join(a.out_dir, "trained.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
