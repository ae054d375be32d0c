"""Self-tests of the benchmark's own arithmetic and attribution.

    python3 perfbench/run.py --selftest

1. Self time and interval unions on hand-made spans.
2. Call-site parsing of Spark stage names.
3. Attribution in a real JVM on the benchmark's data: every job a k-means
   fit fires inside a span carries that span's id, and its call site
   names the operator's source file.
4. Failure accounting: a failing query keeps its time and counts as
   failed; a curation model that throws fails its refresh without ending
   the run.
"""
import os
import shutil
import time


def check(cond, what):
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main(build, jvm, runs):
    from run import check_curation, check_queries, expected, self_times, site_file, union_len

    check(union_len([(0, 10), (5, 15), (20, 30)]) == 25, "union merges overlaps and keeps gaps")
    check(union_len([(0, 10), (20, 30)], 5, 25) == 10, "union clips to the parent interval")
    check(union_len([]) == 0, "empty union is 0")
    spans = [dict(id=1, parent=-1, start=0, end=100),
             dict(id=2, parent=1, start=10, end=40),
             dict(id=3, parent=1, start=30, end=60),   # overlaps its sibling
             dict(id=4, parent=2, start=15, end=20),
             dict(id=5, parent=1, start=90, end=120)]  # runs past its parent
    st = self_times(spans)
    check(st == {1: 40, 2: 25, 3: 30, 4: 5, 5: 30}, "self time = duration minus covered part")
    seq = [dict(id=1, parent=-1, start=0, end=50), dict(id=2, parent=1, start=0, end=20),
           dict(id=3, parent=1, start=20, end=45), dict(id=4, parent=3, start=21, end=30)]
    check(sum(self_times(seq).values()) == 50, "self times of a sequential tree sum to the root's wall")

    check(site_file("collect at Similarity.scala:123") == "Similarity", "call site names its file")
    check(site_file("parquet at VersionedTable.scala:88") == "VersionedTable", "any action verb")
    check(site_file("") == "" and site_file(None) == "", "missing call site")

    java_args = build()

    def run_jvm(mode, tables, args):
        work = runs / f"selftest-{os.getpid()}-{mode}"
        try:
            return jvm(java_args, work, mode, tables, args, time.monotonic() + 170)[1]
        finally:
            shutil.rmtree(work, ignore_errors=True)

    res = run_jvm("selftest", "embeddings", {"trace": 1})
    sid = next(s["id"] for s in res["spans"] if s["name"] == "selftest")
    jobs = res["jobs"]
    check(len(jobs) > 0, f"the fit fired jobs ({len(jobs)})")
    check(all(j["span"] == sid for j in jobs), "every job carries the span's id")
    files = {site_file(j["site"]) for j in jobs}
    check("KMeans" in files, f"jobs are attributed to KMeans.scala (sites: {sorted(files)})")

    # failure accounting: a failing query keeps its time and counts as failed
    res = run_jvm("queries", "nation,customer,supplier,orders,lineitem",
                  {"keys": "q03_dim_double_join,no_such_query", "seconds": 0, "seed": 0, "trace": 0})
    passes = len(res["passes"])
    bad = [op for p in res["passes"] for op in p["ops"] if op["key"] == "no_such_query"]
    check(len(bad) == passes and all(not op["ok"] and op["secs"] > 0 for op in bad),
          "a failed query is recorded, with its time, in every pass")
    check(check_queries(res, expected()) == (2 * passes, passes), "failed queries count against attempted ones")
    # a model that throws fails its refresh; the run survives and reports it
    res = run_jvm("curation", "documents", {"fail": "DOCS_SCORED", "seconds": 0, "seed": 0, "trace": 0})
    check(len(res["passes"]) == 2 and not any(p["ok"] for p in res["passes"]),
          "a failing model fails the cold refresh and the tick, and the run completes")
    attempted, failed = check_curation(res, expected())
    check(failed >= 2 * res["passes"][0]["models"], f"its models count as failed ({failed}/{attempted})")
    print("selftest passed")
