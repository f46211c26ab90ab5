"""Tests for the benchmark's output checks: each check passes on a correct
output and fails when that output is perturbed (a row dropped or one value
changed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import layers

HERE = os.path.dirname(os.path.abspath(__file__))


def write_table(root, table, snap, rows, stage="test", input_snapshot="in"):
    """A TableIO snapshot: two data parts, their lineage, and the manifest."""
    base = os.path.join(root, table, f"snap-{snap}")
    os.makedirs(os.path.join(base, "data"))
    os.makedirs(os.path.join(base, "lineage"))
    halves = [rows[: len(rows) // 2], rows[len(rows) // 2:]]
    lineage = []
    for i, part in enumerate(halves):
        if part:
            pq.write_table(pa.Table.from_pylist(part), os.path.join(base, "data", f"part-{i:05d}.parquet"))
            lineage.append({"stage": stage, "partition_id": i, "input_snapshot": input_snapshot,
                            "row_count": len(part), "wall_ms": 1})
    pq.write_table(pa.Table.from_pylist(lineage), os.path.join(base, "lineage", "part-00000.parquet"))
    with open(os.path.join(root, table, "_manifest.json"), "w") as f:
        json.dump({"table": table, "id": snap, "stage": stage, "input_snapshot": input_snapshot,
                   "row_count": len(rows), "wall_ms": 1}, f)


# A five-vertex graph: a<->b, a->c twice, d->e.
EDGES = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "c"), ("d", "e")]
COMPONENTS = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
# Worked by hand: degrees a=4 b=2 c=2 d=1 e=1, in-degrees a=1 b=1 c=2 d=0 e=1.
MEASURES = {"n": 5.0, "m": 5.0, "max_degree": 4.0, "max_in_degree": 2.0, "max_out_degree": 3.0,
            "parallel_edges": 1.0, "reciprocity": 0.4, "fill": 0.16, "h_index_u": 2.0,
            "h_index_d": 1.0, "mean_degree": 2.0}


def build_round(d, edges=EDGES, components=COMPONENTS, measures=MEASURES,
                first_measures=MEASURES, first_components=COMPONENTS):
    root = os.path.join(d, "tables")
    write_table(root, "transcripts", 0, [{"conv_id": "c0", "turn_idx": i} for i in range(3)])
    write_table(root, "triples", 0, [{"subj": s, "pred": "p", "obj": o} for s, o in EDGES])
    write_table(root, "edges", 0, [{"src": s, "dst": o, "label": "p"} for s, o in edges])
    write_table(root, "vertices", 0, [{"vhash": v, "surface": v} for v in "abcde"])
    for r, comps, meas in ((root, components, measures),
                           (os.path.join(d, "dropped"), first_components, first_measures)):
        write_table(r, "components", 0, [{"vertex": v, "component": c} for v, c in comps.items()])
        write_table(r, "measures", 0, [{"measure": k, "value": v} for k, v in meas.items()])
    return {t: 0 for t in checks.BUILD_TABLES}


DICT = [[("s1", "c1"), ("s2", "c1"), ("s3", "c3")], [("s4", "c4")]]
CANON = [[("c1", "p", "c3"), ("c1", "p", "c3")], [("c4", "p", "c1")]]
CHURN = [{"n_edges_before": 0, "n_edges_after": 1, "n_added": 1, "n_removed": 0},
         {"n_edges_before": 1, "n_edges_after": 2, "n_added": 1, "n_removed": 0}]
EXTRACTED = [2, 1]


def daily_round(d, dict_batches=DICT, canon_snaps=None):
    """Two batches; snapshot k of each table holds batches 0..k."""
    root = os.path.join(d, "tables")
    grown_dict, grown_canon = [], []
    for k in range(len(dict_batches)):
        grown_dict = grown_dict + [{"surface": s, "canonical": c} for s, c in dict_batches[k]]
        grown_canon = grown_canon + [{"subj": s, "pred": p, "obj": o, "batch": f"b{k}"}
                                     for s, p, o in CANON[k]]
        write_table(root, "dict", k, grown_dict)
        write_table(root, "canon_triples", k, canon_snaps[k] if canon_snaps else grown_canon)


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def assertFails(self, errors, fragment):
        self.assertTrue(any(fragment in e for e in errors), f"no '{fragment}' in {errors}")


class BuildChecks(CheckTest):
    def test_correct_output_passes(self):
        ids = build_round(self.dir)
        self.assertEqual(checks.check_build(self.dir, ids, resumed=True), [])

    def test_dropped_edge_fails(self):
        ids = build_round(self.dir, edges=EDGES[:-1])
        errors = checks.check_build(self.dir, ids, resumed=True)
        self.assertFails(errors, "triples has 5 rows but edges has 4")
        self.assertFails(errors, "measure m:")

    def test_changed_component_fails(self):
        ids = build_round(self.dir, components=dict(COMPONENTS, c="c"),
                          first_components=dict(COMPONENTS, c="c"))
        self.assertFails(checks.check_build(self.dir, ids, resumed=True),
                         "2 edges have endpoints in different")

    def test_missing_component_fails(self):
        comps = {v: c for v, c in COMPONENTS.items() if v != "e"}
        ids = build_round(self.dir, components=comps, first_components=comps)
        self.assertFails(checks.check_build(self.dir, ids, resumed=True),
                         "1 edges have endpoints in different (or no)")

    def test_each_changed_measure_fails(self):
        for k in ("n", "m", "max_degree", "max_in_degree", "max_out_degree", "parallel_edges",
                  "reciprocity", "fill", "h_index_u", "h_index_d"):
            with self.subTest(measure=k):
                d = tempfile.mkdtemp(dir=self.dir)
                bad = dict(MEASURES, **{k: MEASURES[k] + 1})
                ids = build_round(d, measures=bad, first_measures=bad)
                self.assertFails(checks.check_build(d, ids, resumed=True), f"measure {k}:")

    def test_dropped_measure_fails(self):
        bad = {k: v for k, v in MEASURES.items() if k != "fill"}
        ids = build_round(self.dir, measures=bad, first_measures=bad)
        self.assertFails(checks.check_build(self.dir, ids, resumed=True), "measure fill:")

    def test_lineage_mismatch_fails(self):
        ids = build_round(self.dir)
        m = os.path.join(self.dir, "tables", "edges", "_manifest.json")
        man = json.load(open(m))
        man["row_count"] += 1
        json.dump(man, open(m, "w"))
        self.assertFails(checks.check_build(self.dir, ids, resumed=True), "edges: lineage rows 5")

    def test_lost_data_file_fails(self):
        ids = build_round(self.dir)
        os.remove(os.path.join(self.dir, "tables", "vertices", "snap-0", "data", "part-00000.parquet"))
        self.assertFails(checks.check_build(self.dir, ids, resumed=True), "vertices: lineage rows 5")

    def test_resumed_measure_changed_fails(self):
        ids = build_round(self.dir, first_measures=dict(MEASURES, mean_degree=2.5))
        self.assertFails(checks.check_build(self.dir, ids, resumed=True),
                         "resumed measures differ from the first run's: ['mean_degree']")

    def test_resumed_component_changed_fails(self):
        ids = build_round(self.dir, first_components=dict(COMPONENTS, e="e"))
        self.assertFails(checks.check_build(self.dir, ids, resumed=True),
                         "1 component assignments changed on resume")

    def test_recommitted_table_fails(self):
        ids = build_round(self.dir)
        write_table(os.path.join(self.dir, "tables"), "triples", 1,
                    [{"subj": s, "pred": "p", "obj": o} for s, o in EDGES])
        self.assertFails(checks.check_build(self.dir, ids, resumed=True), "resume recommitted triples")

    def test_without_resume_skips_resume_checks(self):
        ids = build_round(self.dir, first_measures=dict(MEASURES, mean_degree=2.5))
        self.assertEqual(checks.check_build(self.dir, ids, resumed=False), [])


class DailyChecks(CheckTest):
    def test_correct_output_passes(self):
        daily_round(self.dir)
        self.assertEqual(checks.check_daily(self.dir, CHURN, EXTRACTED), [])

    def test_renamed_assignment_fails(self):
        root = os.path.join(self.dir, "tables")
        write_table(root, "dict", 0, [{"surface": s, "canonical": c} for s, c in DICT[0]])
        renamed = [("s1", "c1"), ("s2", "c9"), ("s3", "c3"), ("s4", "c4")]
        write_table(root, "dict", 1, [{"surface": s, "canonical": c} for s, c in renamed])
        for k in range(2):
            write_table(root, "canon_triples", k, [{"subj": s, "pred": p, "obj": o}
                                                   for b in CANON[:k + 1] for s, p, o in b])
        self.assertFails(checks.check_daily(self.dir, CHURN, EXTRACTED),
                         "batch 1: 1 earlier surface -> id assignments changed")

    def test_two_ids_for_one_surface_fails(self):
        daily_round(self.dir, dict_batches=[DICT[0], [("s4", "c4"), ("s1", "c4")]])
        self.assertFails(checks.check_daily(self.dir, CHURN, EXTRACTED),
                         "dict snapshot 1: 1 surfaces have more than one id")

    def test_removed_edges_fail(self):
        daily_round(self.dir)
        churn = copy.deepcopy(CHURN)
        churn[1]["n_removed"] = 1
        self.assertFails(checks.check_daily(self.dir, churn, EXTRACTED),
                         "batch 1: churn reports 1 removed edges")

    def test_wrong_added_count_fails(self):
        daily_round(self.dir)
        for k in range(2):
            churn = copy.deepcopy(CHURN)
            churn[k]["n_added"] += 1
            self.assertFails(checks.check_daily(self.dir, churn, EXTRACTED),
                             f"batch {k}: churn n_added 2, DuckDB counts 1")

    def test_dropped_triple_fails(self):
        rows = [[{"subj": s, "pred": p, "obj": o} for s, p, o in CANON[0]]]
        rows.append(rows[0][:1] + [{"subj": "c4", "pred": "p", "obj": "c1"}])
        daily_round(self.dir, canon_snaps=rows)
        self.assertEqual(checks.check_daily(self.dir, CHURN, EXTRACTED),
                         ["canon_triples has 2 rows, batches extracted 3 triples"])

    def test_missing_snapshot_fails(self):
        daily_round(self.dir)
        shutil.rmtree(os.path.join(self.dir, "tables", "dict", "snap-0"))
        self.assertFails(checks.check_daily(self.dir, CHURN, EXTRACTED), "expected snapshots 0..1")


class TopologyChecks(CheckTest):
    SQL = {"q": "SELECT k % 3 AS grp, count(*) AS n, sum(v) AS total FROM t GROUP BY 1"}

    def setUp(self):
        super().setUp()
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        pq.write_table(pa.Table.from_pylist([{"k": i, "v": i * 0.5} for i in range(10)]),
                       os.path.join(self.data, "t.parquet"))

    def result(self, rows):
        out = os.path.join(self.dir, "round", "q")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, "part-00000.parquet"))
        return checks.check_topology(os.path.join(self.dir, "round"), self.SQL, self.data, ["q"])

    GOOD = [{"GRP": 1, "n": 3, "total": 6.0}, {"GRP": 0, "n": 4, "total": 9.0},
            {"GRP": 2, "n": 3, "total": 7.5}]

    def test_matching_result_passes(self):
        self.assertEqual(self.result(self.GOOD), [])

    def test_dropped_row_fails(self):
        self.assertFails(self.result(self.GOOD[:2]), "q: 2 rows != oracle 3")

    def test_changed_value_fails(self):
        bad = copy.deepcopy(self.GOOD)
        bad[2]["total"] = 7.500000001
        self.assertFails(self.result(bad), "q: row")

    def test_renamed_column_fails(self):
        bad = [{"grp": r["GRP"], "cnt": r["n"], "total": r["total"]} for r in self.GOOD]
        self.assertFails(self.result(bad), "q: columns")

    def test_cached_oracle_gives_the_same_verdict(self):
        cache = os.path.join(self.dir, "cache")
        for _ in range(2):
            out = os.path.join(self.dir, "round", "q")
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            pq.write_table(pa.Table.from_pylist(self.GOOD[:2]), os.path.join(out, "part-00000.parquet"))
            errors = checks.check_topology(os.path.join(self.dir, "round"), self.SQL, self.data,
                                           ["q"], cache)
            self.assertEqual(errors, ["q: 2 rows != oracle 3"])
        self.assertEqual(len(os.listdir(cache)), 1)

    def test_missing_output_fails(self):
        errors = checks.check_topology(os.path.join(self.dir, "round"), self.SQL, self.data, ["q"])
        self.assertEqual(errors, ["q: no output"])


class ResultChecks(CheckTest):
    def test_missing_table_is_reported(self):
        ids = build_round(self.dir)
        shutil.rmtree(os.path.join(self.dir, "tables", "measures"))
        res = {"workload": "kg_build_daily", "info": {}, "rounds": [{"failed": 0, "extra": {
            "dir": self.dir, "built_ids": ids, "resumed": True, "churn": CHURN,
            "extracted": EXTRACTED}}]}
        errors = checks.check_result(res, self.dir)
        self.assertEqual(len(errors), 1)
        self.assertTrue(errors[0].startswith("round 0: cannot check:"), errors)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_per_layer_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        declared = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        self.assertEqual(declared, layers.names())
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         ["kg_build_daily", "kg_topology"])
        self.assertEqual(sorted(m["name"] for m in spec["end_to_end"]), ["pass_cpu_s", "setup_s"])

    def test_traced_copy_matches_pipeline(self):
        # a changed Pipeline body leaves the traced copy timing stale code:
        # update KgBench's copy, then the digest in layers.COPIED_BODIES
        self.assertEqual(layers.body_digests(os.path.dirname(HERE)), layers.COPIED_BODIES)

    def test_digest_sees_a_changed_body(self):
        with open(os.path.join(os.path.dirname(HERE), layers.PIPELINE)) as f:
            src = f.read()
        changed = src.replace("io.commit(\"dict\", dict,", "io.commit(\"dict\", dict.distinct(),")
        self.assertNotEqual(changed, src)
        self.assertNotEqual(layers.method_body(changed, "incrementalBuild"),
                            layers.method_body(src, "incrementalBuild"))


if __name__ == "__main__":
    unittest.main()
