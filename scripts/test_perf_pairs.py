"""Tests of perf_pairs.py on canned run.py output.

Run: python3 -m unittest discover -s scripts
"""
import json
import unittest

import perf_pairs

SPEC = [
    {"name": "job_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "ingest_mb_per_s", "unit": "MB/s", "better": "higher",
     "bound": 0.25},
]


def line(job_s, mbps, correct=True, failed=0):
    return json.dumps({
        "correct": correct, "attempted": 5, "failed": failed,
        "metrics": {"job_s": {"value": job_s, "unit": "s"},
                    "ingest_mb_per_s": {"value": mbps, "unit": "MB/s"}}})


def stdout(job_s, mbps, **kw):
    return ("[perfbench] backup_chain seed 1: 1 timed job(s)\n"
            f"[perfbench]   job_s 1 s\n{line(job_s, mbps, **kw)}\n")


def job_line(ingest, restore, expire):
    return (f"[perfbench] job: ingest {ingest:.3f} s, restore {restore:.3f} "
            f"s, expire {expire:.3f} s; cpu 45.91 s, executor cpu 4.58 s, "
            "peak rss 812 MB\n")


class PerfPairsTest(unittest.TestCase):

    def test_schedule_alternates_which_side_runs_first(self):
        self.assertEqual(perf_pairs.schedule(3, 10), [
            (10, ("parent", "change")), (11, ("change", "parent")),
            (12, ("parent", "change"))])

    def test_parse_result_reads_the_last_line(self):
        res = perf_pairs.parse_result(stdout(12.5, 1.7, failed=1))
        self.assertEqual(res["metrics"]["job_s"]["value"], 12.5)
        self.assertEqual(res["failed"], 1)

    def test_parse_result_without_json_is_none(self):
        self.assertIsNone(perf_pairs.parse_result(
            "[perfbench] cannot run here: no build.sbt\n"))
        self.assertIsNone(perf_pairs.parse_result(""))

    def test_summary_medians_quartiles_wins_and_bound(self):
        parent = [(10.0, 2.0), (12.0, 1.8), (14.0, 1.6), (16.0, 1.4)]
        change = [(9.0, 2.1), (12.0, 1.7), (13.0, 1.7), (17.0, 1.5)]
        results = [{"parent": perf_pairs.parse_result(stdout(*p)),
                    "change": perf_pairs.parse_result(stdout(*c))}
                   for p, c in zip(parent, change)]
        job, mbps = perf_pairs.summarize(SPEC, results)
        self.assertEqual(job["pairs"], 4)
        self.assertEqual(job["parent_median"], 13.0)
        self.assertEqual(job["change_median"], 12.5)
        self.assertEqual((job["parent_q1"], job["parent_q3"]), (11.5, 14.5))
        self.assertEqual(job["won"], 2)  # the 12.0/12.0 tie counts for none
        self.assertTrue(job["within_bound"])
        self.assertEqual(mbps["won"], 3)
        self.assertTrue(mbps["within_bound"])

    def test_bound_is_relative_in_the_worse_direction(self):
        lower, higher = SPEC
        self.assertTrue(perf_pairs.within_bound(lower, 12.5, 10.0))
        self.assertFalse(perf_pairs.within_bound(lower, 12.6, 10.0))
        self.assertTrue(perf_pairs.within_bound(higher, 1.5, 2.0))
        self.assertFalse(perf_pairs.within_bound(higher, 1.49, 2.0))

    def test_a_pair_missing_a_result_is_left_out_and_reported(self):
        results = [
            {"parent": perf_pairs.parse_result(stdout(10.0, 2.0)),
             "change": None},
            {"parent": perf_pairs.parse_result(stdout(10.0, 2.0)),
             "change": perf_pairs.parse_result(stdout(11.0, 1.9))}]
        job, _ = perf_pairs.summarize(SPEC, results)
        self.assertEqual(job["pairs"], 1)
        self.assertIn("no result", perf_pairs.format_run(1, "change", None))
        run = perf_pairs.format_run(
            1, "parent", perf_pairs.parse_result(stdout(10, 2, failed=2)))
        self.assertIn("correct=True failed=2/5", run)

    def test_parse_phases_takes_the_median_of_every_timed_jvm(self):
        out = (job_line(9.26, 3.19, 4.87) + job_line(8.0, 3.0, 5.0)
               + job_line(10.0, 2.0, 6.0) + stdout(12.5, 1.7))
        self.assertEqual(perf_pairs.parse_phases(out),
                         {"ingest": 9.26, "restore": 3.0, "expire": 5.0})
        self.assertEqual(perf_pairs.parse_phases(stdout(12.5, 1.7)), {})

    def test_phase_medians_per_side_and_format(self):
        phases = [
            {"parent": perf_pairs.parse_phases(job_line(9.0, 3.0, 5.0)),
             "change": perf_pairs.parse_phases(job_line(9.2, 2.5, 1.5))},
            {"parent": perf_pairs.parse_phases(job_line(10.0, 3.2, 4.8)),
             "change": perf_pairs.parse_phases(job_line(9.0, 2.7, 1.3))},
            {"parent": perf_pairs.parse_phases(job_line(11.0, 3.4, 4.9)),
             "change": {}}]  # a run that died before its job line
        med = perf_pairs.phase_medians(phases)
        self.assertEqual(med["parent"],
                         {"ingest": 10.0, "restore": 3.2, "expire": 4.9})
        self.assertEqual(med["change"],
                         {"ingest": 9.1, "restore": 2.6, "expire": 1.4})
        lines = perf_pairs.format_phases(med)
        self.assertEqual(len(lines), 3)
        self.assertIn("expire", lines[2])
        self.assertIn("parent 4.900 s", lines[2])
        self.assertIn("change 1.400 s", lines[2])
        med["change"]["compact"] = 0.5
        self.assertIn("parent -", perf_pairs.format_phases(med)[3])


if __name__ == "__main__":
    unittest.main()
