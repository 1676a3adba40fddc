#!/usr/bin/env python3
"""Selftest for tools/bench_gate.py's decision logic — synthetic
artifacts against a synthetic pin/watchlist in a temp dir
(GRAFT_GATE_TOOLS_DIR override), so the real pin is never touched.

Covers the round-16 rules the real bench can only exercise by
accident: the drift cap, the >2x drift outright refusal, bimodal
demotion, the two-strike watchlist refusal, its floor-decomposition
exoneration ("floor moved"), also from floor rows that carry Bench's
job-chain fields after [build, plan, exec], and the build-arm
counterexample
("build moved" must NOT exonerate), and --record-watch bookkeeping.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
GATE = os.path.join(HERE, "bench_gate.py")

FACES = {f"q{i}": 1.0 for i in range(20)}  # 20 one-second faces


def artifact(times, spread=None, load=0.5, jvms=2):
    return {
        "metric": "total", "value": sum(times.values()), "unit": "sec",
        "queries": times, "errors": {},
        "spread": spread or {n: [t, t] for n, t in times.items()},
        "spread_kind": "p25p75", "rows": {n: 5 for n in times},
        "sf": "synthetic", "reps": 5,
        "gate": {"quiet": True, "max_load": 4.0, "note": ""},
        "env": {"load_avg_start": load, "load_avg_end": load,
                "java_procs_start": jvms, "java_procs_end": jvms,
                "cpus": "32"},
    }


def run(tmp, times, spread=None, watch=None, floor_pin=None,
        floor_cand=None, record=False):
    tools = os.path.join(tmp, "tools")
    os.makedirs(tools, exist_ok=True)
    pin = {"queries": FACES, "note": "selftest"}
    if floor_pin:
        pin["floor"] = floor_pin
    with open(os.path.join(tools, "bench_pin.json"), "w") as f:
        json.dump(pin, f)
    wf = os.path.join(tools, "bench_watch.json")
    if watch is not None:
        with open(wf, "w") as f:
            json.dump(watch, f)
    elif os.path.exists(wf):
        os.unlink(wf)
    art = os.path.join(tmp, "bench_out.json")
    with open(art, "w") as f:
        json.dump(artifact(times, spread), f)
    fl = os.path.join(tmp, "bench_floor.json")
    if floor_cand:
        with open(fl, "w") as f:
            json.dump({"metric": "floor", "per_query": floor_cand}, f)
    elif os.path.exists(fl):
        os.unlink(fl)
    env = dict(os.environ, GRAFT_GATE_TOOLS_DIR=tools)
    args = [sys.executable, GATE, art, "--prev", "none"]
    if record:
        args.append("--record-watch")
    p = subprocess.run(args, capture_output=True, text=True, env=env)
    watch_after = None
    if os.path.exists(wf):
        with open(wf) as f:
            watch_after = json.load(f)
    return p.returncode, p.stdout, watch_after


def check(name, cond, detail=""):
    tag = "ok" if cond else "FAIL"
    print(f"{tag:4} {name}" + (f" — {detail}" if not cond else ""))
    return cond


def main():
    ok = True
    with tempfile.TemporaryDirectory() as tmp:
        # 1. at-pin run passes
        rc, out, _ = run(tmp, dict(FACES))
        ok &= check("at-pin passes", rc == 0, out)

        # 2. one real regression (3x, every rep slow) refuses
        t = dict(FACES); t["q3"] = 3.0
        rc, out, _ = run(tmp, t, spread={n: [v, v] for n, v in t.items()})
        ok &= check("single 3x regression refuses",
                    rc != 0 and "q3" in out, out)

        # 3. uniform 2.5x drift refuses OUTRIGHT (cap rule)
        t = {n: v * 2.5 for n, v in FACES.items()}
        rc, out, _ = run(tmp, t)
        ok &= check("uniform 2.5x refuses as drift anomaly",
                    rc != 0 and "global drift" in out, out)

        # 4. uniform 1.3x drift passes with a note (measured box class)
        t = {n: v * 1.3 for n, v in FACES.items()}
        rc, out, _ = run(tmp, t)
        ok &= check("uniform 1.3x passes with drift note",
                    rc == 0 and "drift factor" in out, out)

        # 5. bimodal excursion (median 3x, p25 at pin), first strike:
        # demoted, passes
        t = dict(FACES); t["q5"] = 3.0
        sp = {n: [v, v] for n, v in t.items()}; sp["q5"] = [1.0, 4.0]
        rc, out, _ = run(tmp, t, spread=sp)
        ok &= check("bimodal first strike demotes, passes",
                    rc == 0 and "bimodal" in out, out)

        # 6. same face, second strike, no floor data: refuses
        rc, out, _ = run(tmp, t, spread=sp, watch={"q5": 1})
        ok &= check("bimodal second strike refuses without floor",
                    rc != 0 and "watchlist" in out.replace("REFUSE", "watchlist")
                    and "q5" in out, out)

        # 7. second strike WITH floor showing exec+build at baseline:
        # exonerated ("floor moved"), passes
        fp = {n: [0.2, 0.01, 0.8] for n in FACES}
        fc = {n: [0.2, 0.01, 0.8] for n in FACES}
        rc, out, _ = run(tmp, t, spread=sp, watch={"q5": 1},
                         floor_pin=fp, floor_cand=fc)
        ok &= check("second strike exonerated by floor", rc == 0
                    and "floor moved" in out, out)

        # 7b. the same with the floor record's full rows: Bench appends
        # the job-chain fields (jobs, stages, tasks, shuffle/spill
        # bytes, task tail, idle gap) after [build, plan, exec]; the
        # exoneration still reads the first three by position
        chain = [40, 60, 300, 5_000_000, 5_000_000, 1_000_000, 900, 12.0,
                 3.5]
        fcx = {n: [0.2, 0.01, 0.8] + chain for n in FACES}
        rc, out, _ = run(tmp, t, spread=sp, watch={"q5": 1},
                         floor_pin=fp, floor_cand=fcx)
        ok &= check("second strike exonerated by a full floor row",
                    rc == 0 and "floor moved" in out, out)

        # 8. second strike with exec 3x in the floor: refuses as
        # "exec moved"
        fc2 = dict(fc); fc2["q5"] = [0.2, 0.01, 2.4]
        rc, out, _ = run(tmp, t, spread=sp, watch={"q5": 1},
                         floor_pin=fp, floor_cand=fc2)
        ok &= check("exec growth refuses on second strike",
                    rc != 0 and "exec moved" in out, out)

        # 9. build (drain) growth must NOT exonerate either
        fc3 = dict(fc); fc3["q5"] = [2.4, 0.01, 0.8]
        rc, out, _ = run(tmp, t, spread=sp, watch={"q5": 1},
                         floor_pin=fp, floor_cand=fc3)
        ok &= check("build growth refuses on second strike",
                    rc != 0 and "build moved" in out, out)

        # 10. --record-watch: demoted face recorded, cleared face reset
        rc, out, watch = run(tmp, t, spread=sp, watch={"q5": 1, "q9": 3},
                             floor_pin=fp, floor_cand=fc, record=True)
        ok &= check("record-watch increments demoted, resets cleared",
                    watch == {"q5": 2}, f"watch={watch} out={out}")

        # 11. contended run refuses regardless
        rc, out, _ = run(tmp, dict(FACES))
        art = os.path.join(tmp, "bench_out.json")
        rec = json.load(open(art))
        rec["env"]["load_avg_start"] = 9.5
        json.dump(rec, open(art, "w"))
        env = dict(os.environ,
                   GRAFT_GATE_TOOLS_DIR=os.path.join(tmp, "tools"))
        p = subprocess.run([sys.executable, GATE, art, "--prev", "none"],
                           capture_output=True, text=True, env=env)
        ok &= check("contended run refuses", p.returncode != 0
                    and "load_avg_start" in p.stdout, p.stdout)

    print("GATE SELFTEST " + ("PASS" if ok else "FAIL"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
