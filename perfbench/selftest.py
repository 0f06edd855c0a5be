"""Self-test of the benchmark on tiny inputs (one Spark session, ~3 min).

    python3 perfbench/selftest.py

Asserts that every metric BENCHMARK.json names is reported with its
unit, that the traced run's self times add up to the round's wall time
while package calls and actions cover all but a small share of it and
every phase makes a package call, that the Spark-side readers see what the plans imply (Python time only
on Avro phases, no data shuffle on the 1 KB message phases, shuffle on
the corpus build), and that a corrupted output is counted as failed.
Exits non-zero on the first broken assertion.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import host  # noqa: E402
import run  # noqa: E402

SCALE = 0.01  # each workload falls back to its floor size
SEED = 3
AVRO_PHASES = {"avro_e2e", "avro_transport", "avro_produce", "avro_consume"}
JSON_PHASES = {"json_e2e", "json_transport", "json_produce", "json_consume"}
MSG_1KB_PHASES = {"json_e2e", "avro_e2e", "json_transport", "avro_transport"}
# largest share of the traced round that no package call or action may cover
UNEXPLAINED_MAX = 0.10


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def check_named(spec: dict, res: dict, trace: int) -> dict:
    line = run.format_result(spec, res, trace)
    section = spec["per_layer"] if trace else spec["end_to_end"]
    for m in section:
        got = line["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            raise AssertionError(f"metric {m['name']} missing or without its unit")
    check(True, f"all {len(section)} {'per-layer' if trace else 'end-to-end'} metrics named")
    return line


def corrupt_first(phases):
    """Make the first phase report one message more than it produced."""
    ph = phases[0]
    orig = ph.run

    def corrupted():
        out = orig()
        return (out[0] + 1,) + tuple(out[1:])

    ph.run = corrupted
    return phases


def main() -> int:
    spec = run.load_spec()
    spark, stamp = host.start_session(os.path.join(run.OUT, "spark-local"))
    try:
        for name in ("messages", "llm_data"):
            res = run.run_workload(spark, stamp, name, SEED, 0, 1, scale=SCALE)
            check(res["failed"] == 0, f"{name}: traced run passes its output checks "
                  f"{res['failures']}")
            check_named(spec, res, 1)
            d = res["detail"]
            check(abs(d["self_time_sum_s"] - d["round_wall_s"]) < 1e-6,
                  f"{name}: self times sum to the round wall ({d['round_wall_s']:.3f} s)")
            # the sum holds by construction; this is what the spans explain
            share = res["metrics"]["trace.unexplained_s"] / res["metrics"]["trace.round_s"]
            check(share < UNEXPLAINED_MAX,
                  f"{name}: {share:.1%} of the round is outside module calls "
                  f"and actions (< {UNEXPLAINED_MAX:.0%})")
            phases = d["phases"]
            for ph, block in phases.items():
                check(block.get("module_calls", 0) > 0,
                      f"{ph}: phase span has {block.get('module_calls', 0)} package-call children")
            if name == "messages":
                for ph in AVRO_PHASES:
                    check(phases[ph]["arrow"]["python_s"] > 0, f"{ph}: Python time > 0")
                for ph in JSON_PHASES:
                    check(phases[ph]["arrow"]["python_s"] == 0, f"{ph}: Python time == 0")
                for ph in MSG_1KB_PHASES:
                    ex = phases[ph]["exec"]
                    # the only Exchange is the final global aggregate: one
                    # partial row per map task, no message data
                    check(ex["shuffle_write_records"] <= ex["tasks"],
                          f"{ph}: shuffle carries only partial-aggregate rows "
                          f"({ex['shuffle_write_records']:.0f} rows)")
            if name == "llm_data":
                check(phases["corpus"]["exec"]["shuffle_write_bytes"] > 0,
                      "corpus: shuffle bytes > 0")

            res = run.run_workload(spark, stamp, name, SEED, 0, 0, scale=SCALE)
            line = check_named(spec, res, 0)
            check(all(v["value"] > 0 for v in line["metrics"].values()),
                  f"{name}: every end-to-end metric > 0")
            check(line["correct"] and line["failed"] == 0, f"{name}: timed run correct")

        res = run.run_workload(spark, stamp, "messages", SEED, 0, 0, scale=SCALE,
                               mutate=corrupt_first)
        line = run.format_result(spec, res, 0)
        check(not line["correct"] and line["failed"] / line["attempted"] > 0,
              f"corrupted output raises the failed fraction to "
              f"{line['failed']}/{line['attempted']}")
    finally:
        host.stop_session(spark)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
