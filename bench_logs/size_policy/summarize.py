"""Summarize the sizing-rule A/B legs in this directory (see README.md).

Usage: python bench_logs/size_policy/summarize.py [LEG_DIR]
"""
import json, glob, statistics as st, sys, os
D = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.abspath(__file__))
out_lines = []
for sf in ("sf1", "sf3"):
    legs = {arm: sorted(glob.glob(f"{D}/{sf}_{arm}_leg*.json")) for arm in ("parent", "change")}
    if not legs["parent"] or not legs["change"]:
        continue
    data = {arm: [json.load(open(f)) for f in fs] for arm, fs in legs.items()}
    n = min(len(data["parent"]), len(data["change"]))
    cpus = data["parent"][0]["cpus"]
    out_lines.append(f"## {sf}: {n} alternating fresh-JVM pairs, {cpus} cores, {data['parent'][0]['reps']} reps per query per leg")
    out_lines.append("per query: min wall over the reps of each leg -> median over legs (range over legs); tasks and spill of the last rep")
    out_lines.append(f"{'query':28s} {'parent_s':>8s} {'p_range':>13s} {'change_s':>8s} {'c_range':>13s} {'delta':>7s} {'verdict':>8s} {'tasks p/c':>11s} {'spill_B p/c':>17s}")
    tp = tc = 0.0
    for q in data["parent"][0]["queries"]:
        pw = [min(d["queries"][q]["wall_s"]) for d in data["parent"][:n]]
        cw = [min(d["queries"][q]["wall_s"]) for d in data["change"][:n]]
        pm, cm = st.median(pw), st.median(cw)
        tp += pm; tc += cm
        spread = max(pw) - min(pw)
        delta = cm - pm
        verdict = "policy" if delta > spread else ("deleted" if -delta > spread else "tie")
        pt = data["parent"][0]["queries"][q]["tasks"][-1]; ct = data["change"][0]["queries"][q]["tasks"][-1]
        ps = max(d["queries"][q]["spill_mem_b"][-1] + d["queries"][q]["spill_disk_b"][-1] for d in data["parent"][:n])
        cs = max(d["queries"][q]["spill_mem_b"][-1] + d["queries"][q]["spill_disk_b"][-1] for d in data["change"][:n])
        out_lines.append(f"{q:28s} {pm:8.3f} {min(pw):6.3f}-{max(pw):6.3f} {cm:8.3f} {min(cw):6.3f}-{max(cw):6.3f} {delta:+7.3f} {verdict:>8s} {pt:5d}/{ct:<5d} {ps:8d}/{cs:<8d}")
    out_lines.append(f"{'TOTAL (sum of medians)':28s} {tp:8.3f} {'':13s} {tc:8.3f}")
    out_lines.append("")
print("\n".join(out_lines))
