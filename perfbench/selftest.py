#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # comparators and the tail rule
    python3 perfbench/selftest.py --traced   # also: traced runs repeat counts

The fast part needs no Spark: every comparator must reject a result with
one value changed and one with a row dropped, and the tail-percentile rule
must pick the highest percentile with ten samples beyond it. ``--traced``
runs every workload twice with ``--trace 1`` at one seed, from the current
directory (a checkout root), and requires the counts to repeat exactly.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probe  # noqa: E402
from common import compare_rows  # noqa: E402
from live_views import VIEWS, expected_view  # noqa: E402

EXACT_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "engine.build_jobs",
                "operators.build_jobs", "engine.plan_cache_hits",
                "streaming.jobs_per_mutation"]

# one result of each shape the workloads compare: interactive rows (ints,
# floats, timestamps, a $facet row of nested arrays), curation rows
# (dedup pairs) and live-view groups
SAMPLES = {
    "interactive.group": [
        {"l_returnflag": "A", "l_linestatus": "F", "sum_qty": 1200.0,
         "sum_price_cents": 123456789, "avg_qty": 25.5, "count_order": 47},
        {"l_returnflag": "N", "l_linestatus": "O", "sum_qty": 900.0,
         "sum_price_cents": 98765432, "avg_qty": 24.25, "count_order": 37}],
    "interactive.sessions": [
        {"user_id": 3, "session_idx": 1, "n_events": 4,
         "t_start": dt.datetime(2024, 1, 1, 0, 5), "t_end": dt.datetime(2024, 1, 1, 0, 9)},
        {"user_id": 3, "session_idx": 2, "n_events": 1,
         "t_start": dt.datetime(2024, 1, 2, 7, 0), "t_end": dt.datetime(2024, 1, 2, 7, 0)}],
    "interactive.facet": [
        {"by_status": [{"_id": "F", "n": 10}, {"_id": "O", "n": 12}],
         "top_orders": [{"o_orderkey": 7}, {"o_orderkey": 3}],
         "big_count": [{"n": 4}]}],
    "curation.pairs": [
        {"id_a": 1, "id_b": 2, "jaccard": 0.871234},
        {"id_a": 1, "id_b": 3, "jaccard": 0.802},
        {"id_a": 2, "id_b": 3, "jaccard": 0.913}],
}


def _perturb(v):
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    if isinstance(v, dt.datetime):
        return v + dt.timedelta(seconds=1)
    if isinstance(v, str):
        return v + "x"
    if isinstance(v, list):
        return v[:-1] if v else [0]
    if isinstance(v, dict):
        k = next(iter(v))
        return {**v, k: _perturb(v[k])}
    raise TypeError(type(v))


class Comparators(unittest.TestCase):
    def _cases(self):
        live = [{"doc_id": i, "source": f"src{i % 3}", "lang": "en" if i % 2 else "fr",
                 "n_chars": 10 * i, "score": 0.1 * (i % 5) - 0.1} for i in range(1, 12)]
        for view in VIEWS:
            yield f"live_views.{view}", expected_view(view, live)
        yield from SAMPLES.items()

    def test_identical_results_match(self):
        for name, rows in self._cases():
            for ordered in (True, False):
                got = [dict(r) for r in (rows if ordered else reversed(rows))]
                self.assertIsNone(compare_rows(rows, got, ordered), name)

    def test_one_value_changed_is_rejected(self):
        for name, rows in self._cases():
            for i, row in enumerate(rows):
                for col in row:
                    bad = [dict(r) for r in rows]
                    bad[i][col] = _perturb(row[col])
                    for ordered in (True, False):
                        self.assertIsNotNone(compare_rows(rows, bad, ordered),
                                             f"{name} row {i} {col} ordered={ordered}")

    def test_one_row_dropped_is_rejected(self):
        for name, rows in self._cases():
            for i in range(len(rows)):
                bad = rows[:i] + rows[i + 1:]
                for ordered in (True, False):
                    self.assertIsNotNone(compare_rows(rows, bad, ordered), name)

    def test_rounding_noise_is_accepted(self):
        rows = SAMPLES["interactive.group"]
        noisy = [{**r, "avg_qty": r["avg_qty"] * (1 + 1e-12)} for r in rows]
        self.assertIsNone(compare_rows(rows, noisy, ordered=True))


class TailRule(unittest.TestCase):
    def test_needs_forty_samples(self):
        self.assertIsNone(probe.tail_percentile([1.0] * 39))

    def test_ten_samples_beyond(self):
        for n in (40, 41, 57, 100, 1000):
            values = [float(v) for v in range(n, 0, -1)]  # unsorted input
            pct, value = probe.tail_percentile(values)
            self.assertEqual(sum(1 for v in values if v > value), 10, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_highest_such_percentile(self):
        # p90 of 1..100 has 10 samples above it; the next rank up, 9
        _, value = probe.tail_percentile([float(v) for v in range(1, 101)])
        self.assertEqual(value, 90.0)


class TracedRepeat(unittest.TestCase):
    """Two traced runs at one seed: the counts must repeat exactly."""

    SEED = 7

    def _run(self, workload: str) -> dict:
        here = os.path.dirname(os.path.abspath(__file__))
        out = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
             "--seed", str(self.SEED), "--seconds", "1", "--trace", "1"],
            check=True, capture_output=True, text=True, timeout=600).stdout
        return json.loads(out.strip().splitlines()[-1])

    def test_counts_repeat(self):
        for workload in ("interactive", "curation", "live_views"):
            a, b = self._run(workload), self._run(workload)
            for k in EXACT_COUNTS:
                self.assertEqual(a["metrics"][k]["value"], b["metrics"][k]["value"],
                                 f"{workload} {k}")


if __name__ == "__main__":
    traced = "--traced" in sys.argv
    if traced:
        sys.argv.remove("--traced")
    else:
        del TracedRepeat
    unittest.main()
