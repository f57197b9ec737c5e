"""Self-test of the benchmark at tiny size.

    python3 graftbench/selftest.py

Run from the root of a checkout. It runs each workload on a 40-document
corpus, untraced and traced, and asserts that every metric named in
BENCHMARK.json is printed with its unit and that no op failed. Then it
corrupts outputs on purpose (a dropped view, a changed identifier) and
asserts the output checks catch each one. Exits 0 when all pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.dont_write_bytecode = True
DOCS = 40


def run_bench(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--docs", str(DOCS),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{label}: metrics {got} != declared {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {k} is not a number"
    assert result["attempted"] >= 1 and result["failed"] == 0 and result["correct"], (
        f"{label}: {result['failed']} of {result['attempted']} ops failed"
    )


def corrupted_roundtrip_is_caught(work: str) -> None:
    """The round-trip check passes on a correct output directory and
    fails on one with a dropped view and on one with a changed
    identifier. Needs no Spark: the output is built on the driver."""
    from curatorhadoopinterface_spark.annotators.light import annotate_record
    from curatorhadoopinterface_spark.plans.registry import MODES, VIEW_TO_MODE, ViewType
    from curatorhadoopinterface_spark.thrift_codec import encode_thrift_record
    from workloads import TARGETS, ThriftRoundtrip

    wl = ThriftRoundtrip(types.SimpleNamespace(seed=7, work=work), DOCS)
    wl.make_inputs(os.path.join(work, "data"))
    out = os.path.join(work, "out")
    os.makedirs(out)
    for ident in wl.blobs:
        views = annotate_record(wl.corpus.text_of[ident], {}, TARGETS)
        rec = {"identifier": ident, "raw_text": wl.corpus.text_of[ident]}
        for vt in ViewType:
            rec[vt.value] = {
                k: v for k, v in views.items() if MODES[VIEW_TO_MODE[k]].view_type is vt
            }
        with open(os.path.join(out, f"{ident}.txt"), "wb") as fh:
            fh.write(encode_thrift_record(rec))
    assert wl.check_output(out) == [], wl.check_output(out)

    victim = sorted(wl.blobs)[0]
    path = os.path.join(out, f"{victim}.txt")
    good = open(path, "rb").read()
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record

    rec = decode_thrift_record(good)
    del rec["label_views"]["ner"]
    with open(path, "wb") as fh:
        fh.write(encode_thrift_record(rec))
    assert any("ner" in f for f in wl.check_output(out)), "dropped view not caught"

    with open(path, "wb") as fh:
        fh.write(good)
    os.rename(path, os.path.join(out, "0" * 40 + ".txt"))
    assert any("identifiers differ" in f for f in wl.check_output(out)), "changed id not caught"


def corrupted_store_is_caught(work: str) -> None:
    """The lifecycle check passes on the store a cold op leaves and fails
    on a copy with one view dropped from one record, and on a copy with
    one identifier changed."""
    import pyspark.sql.functions as F

    import run
    from workloads import StoreLifecycle

    ctx = run.Ctx(types.SimpleNamespace(seed=7), ROOT)
    ctx.work = work
    run.configure_env(ctx)
    run.start_session(ctx)
    try:
        wl = StoreLifecycle(ctx, DOCS)
        wl.make_inputs(os.path.join(work, "data"))
        wl.setup(os.path.join(work, "data"))
        n = wl._op("cold", wl.store)
        assert wl.check_phase("cold", n) == [], wl.check_phase("cold", n)

        victim = sorted(wl.expected_ids("cold"))[0]
        stored = ctx.spark.read.parquet(wl.store)
        is_victim = F.col("identifier") == victim
        dropped = stored.withColumn(
            "label_views",
            F.when(is_victim, F.map_filter("label_views", lambda k, _: k != "ner")).otherwise(
                F.col("label_views")
            ),
        )
        renamed = stored.withColumn(
            "identifier", F.when(is_victim, F.lit("0" * 40)).otherwise(F.col("identifier"))
        )
        for label, df in (("dropped view", dropped), ("changed identifier", renamed)):
            bad_store = os.path.join(work, label.replace(" ", "-"))
            df.write.parquet(bad_store)
            assert wl.check_phase("cold", n, store=bad_store), f"{label} not caught"
    finally:
        run.stop_session(ctx)


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        check_metrics(run_bench(w["name"], 0), spec["end_to_end"], f"{w['name']} trace 0")
        check_metrics(run_bench(w["name"], 1), spec["per_layer"], f"{w['name']} trace 1")
        print(f"ok: {w['name']} emits every metric with its unit, no op failed")
    work = os.path.join(ROOT, ".graftbench", f"selftest-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        corrupted_roundtrip_is_caught(os.path.join(work, "roundtrip"))
        print("ok: round-trip check catches a dropped view and a changed identifier")
        corrupted_store_is_caught(os.path.join(work, "lifecycle"))
        print("ok: lifecycle check catches a dropped view and a changed identifier")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
