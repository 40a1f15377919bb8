"""Stream output check: the alerts and window counts a run must deliver.

The expected outputs are computed in batch from the same lines the stream
received. The lines are parsed here, independently of the package's
parser, into one row per invoice holding what the sessionizer buffers (the
parse error, the good-line count, the missing-field flags and the
features). The package then classifies those rows with
``classify_erroneous`` / ``filter_valid_invoices`` (the erroneous-invoice
precedence) and scores the valid non-cancellations with the same detectors
through ``distance_to_centroid`` / ``detect_anomalies``.
"""

from __future__ import annotations

import sys
from collections import Counter
from dataclasses import dataclass

from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import (
    assemble_features,
    detect_anomalies,
    distance_to_centroid,
)
from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import FEATURE_ORDER
from spark_streaming_invoice_anomaly_detection_spark.streaming.session_state import EMITTED_SCHEMA
from spark_streaming_invoice_anomaly_detection_spark.streaming.validate import (
    classify_erroneous,
    filter_valid_invoices,
)

#: Each emitted cancellation is counted in this many 8 min / 1 min windows.
WINDOWS_PER_EVENT = 8


@dataclass
class Expected:
    #: (sink, invoice_no) -> reason (None for anomaly sinks)
    alerts: dict
    #: sum over windows of each window's last count
    window_total: int


def _hour(date: str) -> float:
    try:
        return float(date.split(" ")[1].split(":")[0])
    except (IndexError, ValueError):
        return -1.0


def _number(text: str, kind):
    try:
        return kind(text)
    except ValueError:
        return None


def invoice_rows(lines: list[str]) -> list[tuple]:
    """One EMITTED_SCHEMA row per invoice from raw purchase lines: the
    first parse error (a non-numeric quantity or unit price), and the
    count, flags and features of the good lines. Lines with fewer than 8
    fields are dropped, as the router drops them."""
    acc: dict[str, dict] = {}
    for line in lines:
        f = line.split(",")
        if len(f) < 8:
            continue
        no, _stock, _desc, qty_s, date, price_s, customer, country = f[:8]
        inv = acc.setdefault(no, {"error": None, "good": []})
        qty, price = _number(qty_s, int), _number(price_s, float)
        if qty is None:
            inv["error"] = inv["error"] or f"parse error: invalid quantity '{qty_s}'"
        elif price is None:
            inv["error"] = inv["error"] or f"parse error: invalid unit price '{price_s}'"
        else:
            inv["good"].append((qty, date, price, customer, country))
    rows = []
    for no, inv in acc.items():
        good = inv["good"]
        prices = [g[2] for g in good]
        n = len(good)
        rows.append((
            no,
            sum(prices) / n if n else None,
            min(prices) if n else None,
            max(prices) if n else None,
            _hour(good[0][1]) if n else None,
            float(sum(g[0] for g in good)) if n else None,
            0,
            n,
            good[0][3] if n else None,
            inv["error"],
            any(g[3] == "" for g in good),
            any(_hour(g[1]) < 0 for g in good),
            any(g[4] == "" for g in good),
        ))
    return rows


def expected_outputs(spark, lines: list[str], kmeans, bisect) -> Expected:
    from pyspark.sql import functions as F

    invoices = spark.createDataFrame(invoice_rows(lines), EMITTED_SCHEMA)
    alerts = {("erroneous", r.invoice_no): r.reason for r in classify_erroneous(invoices).collect()}
    valid = filter_valid_invoices(invoices)
    is_cancel = F.col("invoice_no").startswith("C")
    feats = assemble_features(valid, FEATURE_ORDER)
    # one job: the valid cancellations and both detectors' anomalies
    cancels = valid.filter(is_cancel).select("invoice_no", F.lit("cancellation").alias("sink"))
    for sink, det in (("kmeans_anomalies", kmeans), ("bisect_anomalies", bisect)):
        scored = detect_anomalies(distance_to_centroid(feats.filter(~is_cancel), det.model), det.threshold)
        cancels = cancels.unionByName(scored.select("invoice_no", F.lit(sink).alias("sink")))
    cancellations = 0
    for r in cancels.collect():
        if r.sink == "cancellation":
            cancellations += 1
        else:
            alerts[(r.sink, r.invoice_no)] = None
    return Expected(alerts, WINDOWS_PER_EVENT * cancellations)


def window_total(window_rows) -> int:
    """Sum over windows of each window's last (largest) count."""
    last: dict = {}
    for start, _end, n in window_rows:
        last[start] = max(last.get(start, 0), n)
    return sum(last.values())


def compare_alerts(expected: Expected, received) -> tuple[int, dict]:
    """Failures among the expected alerts, and a breakdown by cause.

    ``received`` holds (sink, invoice_no, reason) per delivered row. Every
    expected alert must arrive exactly once with the expected reason; an
    alert that is missing, extra, duplicated or carries another reason is
    one failure each.
    """
    counts = Counter((s, no) for s, no, _r in received)
    reasons = {(s, no): r for s, no, r in received}
    missing = sum(1 for k in expected.alerts if counts[k] == 0)
    duplicated = sum(c - 1 for k, c in counts.items() if c > 1 and k in expected.alerts)
    extra = sum(c for k, c in counts.items() if k not in expected.alerts)
    wrong = sum(1 for k, r in expected.alerts.items() if counts[k] and reasons[k] != r)
    causes = {"missing": missing, "duplicated": duplicated, "extra": extra, "wrong_reason": wrong}
    problems = [k for k in expected.alerts if counts[k] != 1 or reasons[k] != expected.alerts[k]]
    problems += [k for k in counts if k not in expected.alerts]
    for k in problems[:20]:
        print(f"perfbench: alert {k}: expected {expected.alerts.get(k, 'none')!r}, "
              f"received {counts[k]}x {reasons.get(k)!r}", file=sys.stderr)
    return sum(causes.values()), causes
