#!/usr/bin/env python3
"""Assemble the relational-axis scale-sweep artifact: per-query Spark
seconds at the 10x and 100x ScaleData slices with 10x->100x scaling
exponents — the evidence that the star-schema and whole-job conformance
plans survive two orders of magnitude, not just the plan-shape argument.

Usage: assemble_scale_relational.py <bench_10x.json> <bench_100x.json> <out.json> \
           [duckdb_10x.json] [duckdb_100x.json] [floor_10x.json] [floor_100x.json]
(bench files = the Bench stdout JSON line, possibly log-prefixed;
 duckdb files = scripts/duckdb_baseline.py artifacts over the SAME slices —
 when given, per-query spark/duckdb ratios land in the artifact, closing
 the round-8 verdict gap: the <=2x criterion measured AT the 100x scale
 the design targets, not inferred from exponents;
 floor files = graft.FloorProbe artifacts over the same slices,
   sbt "runMain graft.FloorProbe <sliceDir> floor_10x.json q5_period_agg,..." —
 when given, each probed query's MEASURED dispatch constant (driver plan
 time + DAG/scheduling gaps, the part of the wall that does not scale
 with data) is subtracted before the >2x test, and the floor-adjusted
 flag lists land alongside the raw ones: sub-2 s rows adjudicated by
 measurement instead of prose)
"""
import json
import os
import math
import sys

from assemble_bench import same_slice


def bench(path):
    line = open(path).read()
    return json.loads(line[line.index('{'):])


def main(b10, b100, out, d10=None, d100=None, f10=None, f100=None):
    s10, s100 = bench(b10), bench(b100)
    q10, q100 = s10["queries"], s100["queries"]
    common = sorted(set(q10) & set(q100))
    # exponent for a 10x size step between the two slices:
    # 1.0 = linear in data, 0 = flat (fixed overhead still dominates)
    exps = {k: round(math.log10(q100[k] / q10[k]), 3)
            for k in common if q10[k] > 0 and q100[k] > 0}
    superlinear = sorted(k for k, e in exps.items() if e > 1.05)

    def ratios(bench_q, duck_path):
        if not duck_path:
            return None, None, []
        duck = json.load(open(duck_path))["queries"]
        r = {k: round(bench_q[k] / duck[k], 3)
             for k in common if duck.get(k)}
        over = sorted(k for k, v in r.items()
                      if v > 2.0 and bench_q[k] > 1.0)
        return {k: duck[k] for k in common if k in duck}, r, over

    duck10_q, ratio10, over10 = ratios(q10, d10)
    duck100_q, ratio100, over100 = ratios(q100, d100)

    doc = {
        "round": int(os.environ.get("GRAFT_ROUND", "9")),
        "cpus": s100.get("sf") and 32,
        "slices": {"10x": s10.get("sf"), "100x": s100.get("sf")},
        "runs_per_query": s10.get("runs_per_query"),
        "agg": "min",
        "queries_10x_s": {k: q10[k] for k in common},
        "queries_100x_s": {k: q100[k] for k in common},
        "task_sec_100x": s100.get("task_sec", {}),
        "shuffle_bytes_100x": s100.get("shuffle_bytes", {}),
        "scaling_exponent_log10": exps,
        "superlinear_over_1.05": superlinear,
        "errors_10x": s10.get("errors", {}),
        "errors_100x": s100.get("errors", {}),
        "note": "100x ScaleData replication of sf0.1 (FK-consistent "
                "strides; lineitem ~60M rows). Exponent near 1 = linear "
                "scaling; >1.05 flagged as super-linear. Ratio lists flag "
                ">2x only when the Spark wall also exceeds 1s (sub-second "
                "walls are the fixed per-query scheduling floor).",
    }
    def floor_adjust(walls, walls_path, duck_path, floor_path, tag):
        """Subtract each probed query's measured dispatch constant
        (plan_s + gap_s from FloorProbe) before the >2x-and->1s
        test; unprobed queries keep their raw walls."""
        if not duck_path or not floor_path:
            return
        duck = json.load(open(duck_path))["queries"]
        floor = json.load(open(floor_path))
        same_slice(walls, floor, walls_path, floor_path)
        bench_q = walls["queries"]
        disp = {k: v["dispatch_s"] for k, v in floor["queries"].items()}
        adj = {k: round(max(0.0, bench_q[k] - disp.get(k, 0.0)), 3)
               for k in common}
        ratio = {k: round(adj[k] / duck[k], 3)
                 for k in common if duck.get(k)}
        over = sorted(k for k, v in ratio.items()
                      if v > 2.0 and adj[k] > 1.0)
        doc[f"dispatch_floor_s_{tag}"] = {k: round(v, 3)
                                          for k, v in disp.items()}
        doc[f"trivial_job_floor_s_{tag}"] = floor.get("trivial_job_floor_s")
        doc[f"spark_vs_duckdb_{tag}_floor_adjusted"] = ratio
        doc[f"over_2x_and_1s_{tag}_floor_adjusted"] = over

    if ratio10 is not None:
        doc["queries_duckdb_10x_s"] = duck10_q
        doc["spark_vs_duckdb_10x"] = ratio10
        doc["over_2x_and_1s_10x"] = over10
    if ratio100 is not None:
        doc["queries_duckdb_100x_s"] = duck100_q
        doc["spark_vs_duckdb_100x"] = ratio100
        doc["over_2x_and_1s_100x"] = over100
    floor_adjust(s10, b10, d10, f10, "10x")
    floor_adjust(s100, b100, d100, f100, "100x")
    json.dump(doc, open(out, "w"), indent=1, sort_keys=True)
    t10 = sum(q10[k] for k in common)
    t100 = sum(q100[k] for k in common)
    print(f"10x total {t10:.1f}s, 100x total {t100:.1f}s over "
          f"{len(common)} queries; superlinear: {superlinear}")
    if ratio100 is not None:
        d = sum(duck100_q.get(k, 0) for k in common)
        print(f"100x duckdb total {d:.1f}s; spark/duckdb aggregate "
              f"{t100 / d if d else 0:.3f}; over 2x (and >1s): {over100}")


if __name__ == "__main__":
    args = sys.argv[1:]
    main(*args[:3], *(args[3:7] or []))
