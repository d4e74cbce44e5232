"""Unit tests of the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import metrics  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "op": "o"}


def op(window, ok, t0=0, t1=1_000_000, kind="k", client=0):
    return {"window": window, "ok": ok, "t0": t0, "t1": t1, "kind": kind, "op": kind,
            "client": client}


class TailPercentile(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90, 90))

    def test_highest_percentile_with_ten_beyond_on_a_small_sample(self):
        # 50 samples: p90 leaves only 5 beyond; p80 (value 40) leaves 10
        self.assertEqual(metrics.tail_percentile(range(1, 51)), (80, 40))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1] * 5 + [7] * 100
        self.assertEqual(metrics.tail_percentile(xs), (50, 7))

    def test_too_small_a_sample_falls_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2]), (50, 2))
        self.assertEqual(metrics.tail_percentile([]), (50, 0.0))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # two concurrent jobs under one op: [10, 40] and [30, 60] cover 50
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60)]
        own = metrics.self_times(spans)
        self.assertEqual(own, {1: 50, 2: 30, 3: 30})

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 150), span(3, 1, 120, 130)]
        self.assertEqual(metrics.self_times(spans)[1], 90)

    def test_grandchildren_only_reduce_their_own_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        own = metrics.self_times(spans)
        self.assertEqual((own[1], own[2], own[3]), (50, 0, 50))

    def test_union(self):
        self.assertEqual(metrics.union_ns([(5, 8), (0, 2), (1, 3), (7, 9)]), 7)


class FailureCounting(unittest.TestCase):
    def test_failed_ops_are_counted_and_give_no_latency_sample(self):
        rec = {"ops": [op("check", True), op("timed", True, 0, 2_000_000),
                       op("timed", False, 0, 1), op("replay", False)],
               "setup_s": [3.0, 1.0, 2.0], "timed_cpu_s": 0.5}
        self.assertEqual(metrics.counts(rec), (4, 2))
        e2e = metrics.end_to_end(rec)
        # the failed timed op's near-zero time is not averaged in
        self.assertEqual(e2e["op_mean_ms"], (2.0, "ms"))
        self.assertEqual(e2e["cpu_ms_per_op"], (500.0, "ms"))
        self.assertEqual(e2e["setup_s"], (2.0, "s"))

    def test_a_replay_layer_without_spans_is_flagged(self):
        names = [name for name, _ in metrics.SPANS.values()]
        spans = [span(i + 1, 0, 0, 1, n) for i, n in enumerate(names) if n != "guard.run_guarded"]
        rec = {"workload": "bi_serve", "spans": spans}
        self.assertEqual(metrics.unmeasured_layers(rec), ["guard.run_guarded_ms"])
        rec["spans"].append(span(99, 0, 0, 1, "guard.run_guarded"))
        self.assertEqual(metrics.unmeasured_layers(rec), [])
        # the batch workload runs none of these layers
        self.assertEqual(metrics.unmeasured_layers({"workload": "catalog_batch", "spans": []}), [])


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in inputs.WORKLOADS:
            a = inputs.generate(w, 7, 10)
            self.assertEqual(a, inputs.generate(w, 7, 10))
            self.assertEqual(inputs.digest(a), inputs.digest(inputs.generate(w, 7, 10)))
            self.assertNotEqual(inputs.digest(a), inputs.digest(inputs.generate(w, 8, 10)))

    def test_digest_ignores_the_committed_digests(self):
        a = inputs.generate("catalog_batch", 1, 10, {"q": "x"})
        self.assertEqual(inputs.digest(a), inputs.digest(inputs.generate("catalog_batch", 1, 10)))

    def test_every_client_sends_the_same_mix_for_every_seed(self):
        def mixes(seed):
            return [sorted(r["route"] for r in c)
                    for c in inputs.generate("bi_serve", seed, 10)["clients"]]
        a = mixes(1)
        self.assertEqual(a, mixes(2))
        self.assertTrue(all(m == a[0] for m in a))
        self.assertEqual(set(a[0]), set(inputs.ROUTES))

    def test_setup_requests_are_the_same_for_every_seed_and_in_no_deck(self):
        a, b = inputs.generate("bi_serve", 1, 10), inputs.generate("bi_serve", 2, 10)
        self.assertEqual(a["setup"], b["setup"])
        ids = {r["id"] for c in a["clients"] + b["clients"] for r in c}
        bodies = {r["body"] for c in a["clients"] + b["clients"] for r in c}
        for r in a["setup"]:
            self.assertNotIn(r["id"], ids)
            if r["body"]:
                self.assertNotIn(r["body"], bodies)

    def test_clients_walk_one_deck_from_different_offsets(self):
        cs = inputs.generate("bi_serve", 3, 10)["clients"]
        self.assertEqual(len({c[0]["id"] for c in cs}), len(cs))
        self.assertTrue(all(sorted(map(str, c)) == sorted(map(str, cs[0])) for c in cs))

    def test_writes_lead_every_pass_and_the_rest_is_permuted(self):
        ps = inputs.generate("catalog_batch", 5, 10)["passes"]
        reads = sorted(q for q in inputs.flat(inputs.ANALYTICS) + inputs.flat(inputs.CORPUS)
                       if q not in inputs.CORPUS_WRITES)
        for p in ps:
            self.assertEqual(p[:len(inputs.CORPUS_WRITES)], inputs.CORPUS_WRITES)
            self.assertEqual(sorted(p[len(inputs.CORPUS_WRITES):]), reads)
        self.assertGreater(len({tuple(p) for p in ps}), 1)


if __name__ == "__main__":
    unittest.main()
