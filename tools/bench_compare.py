#!/usr/bin/env python3
"""Compare two graft.Bench JSON lines (e.g. BENCH_r1.json vs a fresh
run): per-query delta, regressions beyond a threshold flagged.

Host normalization (round 14): when BOTH lines carry the "probes"
object ({"cpu":s,"shuffle":s,"scan":s} fixed micro-workloads emitted
by graft.Bench), per-query ratios are divided by the geometric mean of
the probe ratios before flagging — cross-session host speed has been
measured to swing up to ~5x uniformly, and an unnormalized compare
flags that band as a wall of fake regressions. The raw ratio is still
printed alongside. Lines without probes (pre-r14) compare raw, as
before.

Layer attribution: when BOTH side files carry "rows" (graft.Bench's
per-rep records), every flagged row also gets its build/plan/exec
seconds and job count, base -> cand, each the min over reps, and the
layer whose seconds grew most is named. Raw seconds, not
host-normalized. Files without "rows" compare as before.

Usage: python3 tools/bench_compare.py <baseline.json> <candidate.json> [threshold=1.5]
Exit 1 if any shared query regressed by more than `threshold`x
(host-normalized when probes are present on both sides).
"""
import json, sys

def load(p):
    with open(p) as f:
        line = next(l for l in f if l.strip().startswith('{'))
    return json.loads(line)

def host_factor(base, cand):
    """Geometric mean of candidate/baseline probe ratios, or 1.0 when
    either side lacks probes. The gmean blends single-core (cpu),
    shuffle, and scan bands — a uniform host slowdown moves all three
    together, which is exactly the signature that distinguishes it
    from a code regression (spiky, probe-invariant)."""
    bp, cp = base.get("probes") or {}, cand.get("probes") or {}
    shared = [k for k in bp if k in cp and bp[k] > 0 and cp[k] > 0]
    if not shared:
        return 1.0, {}
    ratios = {k: cp[k] / bp[k] for k in shared}
    prod = 1.0
    for r in ratios.values():
        prod *= r
    return prod ** (1.0 / len(ratios)), ratios

def drift_check(line, label):
    """Intra-run band-drift flag (VERDICT r14 item 7): graft.Bench
    emits a probe triple at START and END of the query loop
    ("probes" / "probes_end"). A warm JVM makes the END probes
    systematically FASTER (codegen/footers cached), so only the
    degradation direction is a signal: an end probe >1.5x SLOWER than
    its start twin means the host band decayed mid-run and per-query
    deltas from that run need per-row minima, not single-run trust."""
    ps, pe = line.get("probes") or {}, line.get("probes_end") or {}
    drifted = {k: pe[k] / ps[k] for k in ps
               if k in pe and ps[k] > 0 and pe[k] / ps[k] > 1.5}
    if drifted:
        d = " ".join(f"{k}={v:.2f}x" for k, v in sorted(drifted.items()))
        print(f"WARNING: {label} drifted MID-RUN ({d}) — its per-query"
              " numbers are band-contaminated; prefer minima over reruns")
    return bool(drifted)

LAYERS = ("build_s", "plan_s", "exec_s")

def layers(line, name):
    """Per-layer min over the row's ok reps, or None when the file has
    no records for it."""
    recs = [r for r in (line.get("rows") or {}).get(name, []) if r.get("ok")]
    if not recs:
        return None
    return {k: min(r[k] for r in recs) for k in LAYERS + ("jobs",)}

def attribute(base, cand, name):
    """One line naming what moved in a flagged row, or None."""
    b, c = layers(base, name), layers(cand, name)
    if b is None or c is None:
        return None
    parts = [f"{k[:-2]} {b[k]:.3f}->{c[k]:.3f} ({c[k] - b[k]:+.3f}s)" for k in LAYERS]
    parts.append(f"jobs {b['jobs']}->{c['jobs']} ({c['jobs'] - b['jobs']:+d})")
    grew = max(LAYERS, key=lambda k: c[k] - b[k])
    return f"    {name}: " + "  ".join(parts) + f"  -> layer: {grew[:-2]}"

def main(base_p, cand_p, threshold=1.5):
    base, cand = load(base_p), load(cand_p)
    bq, cq = base["queries"], cand["queries"]
    drift_check(base, "baseline")
    drift_check(cand, "candidate")
    factor, probe_ratios = host_factor(base, cand)
    if probe_ratios:
        pr = " ".join(f"{k}={v:.2f}" for k, v in sorted(probe_ratios.items()))
        print(f"host probes: {pr} -> normalizing by gmean {factor:.2f}")
    shared = sorted(set(bq) & set(cq), key=lambda k: -cq[k])
    regressions = []
    print(f"{'query':<30} {'base':>8} {'cand':>8} {'ratio':>7} {'norm':>7}")
    for k in shared:
        ratio = cq[k] / bq[k] if bq[k] > 0 else float("inf")
        norm = ratio / factor
        mark = ""
        if cq[k] > 0.5 and norm > threshold:  # ignore sub-500ms noise
            regressions.append(k)
            mark = "  <-- REGRESSION"
        print(f"{k:<30} {bq[k]:>8.2f} {cq[k]:>8.2f} {ratio:>7.2f} {norm:>7.2f}{mark}")
    print(f"\ntotal: base {base['value']:.1f}s -> cand {cand['value']:.1f}s"
          + (f" (host-normalized cand ~{cand['value']/factor:.1f}s)"
             if probe_ratios else ""))
    for k in sorted(set(cq) - set(bq)):
        print(f"new query: {k} ({cq[k]:.2f}s)")
    if regressions:
        print(f"\n{len(regressions)} regression(s): {regressions}")
        lines = [l for l in (attribute(base, cand, k) for k in regressions) if l]
        if lines:
            print("layers (min over reps, raw seconds):")
            print("\n".join(lines))
        return 1
    return 0

if __name__ == "__main__":
    t = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    sys.exit(main(sys.argv[1], sys.argv[2], t))
