#!/usr/bin/env python3
"""Gate the 10x scale-probe curve: fail on super-linear growth.

Usage:
    sbt ... "runMain graft.ScaleProbe" | python3 tools/check_probe.py PROBE_BUDGET.json
    python3 tools/check_probe.py PROBE_BUDGET.json /tmp/probe.log
    python3 tools/check_probe.py --refresh PROBE_BUDGET.json /tmp/probe.log

Parses `[scale-probe] <label> sf0.1=Xs 10x=Ys ratio=R` lines (fields
after the ratio are ignored, and a `100x=` or `skew=` line is not a 10x
row) and compares each label's ratio to its budgeted maximum. A
`[scale-probe] <label> FAILED: <msg>` line fails the gate and names the
label. A documented-linear path exceeding its budget is a GATE
failure — the probe curve is enforced, not remembered (the same
promotion gate.sh --sf0.1 gave the second-SF oracle audit). Labels absent from the budget are
reported informationally (known-quadratic exact baselines are
deliberately unbudgeted). Sub-second sf0.1 times get an absolute
floor: ratio = big/small explodes on scheduler jitter when small is
tiny, so a row only drifts if big ALSO exceeds budget_ratio * small
+ ABS_SLACK seconds.

--refresh rewrites the budget from a probe log: per label,
max(1.8 x measured ratio, 6.0) — headroom for run-to-run noise while
still catching a quadratic blow-up (which lands at 50-100x on the
duplicate-heavy 10x corpus).
"""
import json
import re
import sys

ABS_SLACK = 2.0  # seconds of absolute growth forgiven beyond the ratio

LINE = re.compile(
    r"\[scale-probe\]\s+(.+?)\s+sf0\.1=\s*([0-9.]+)s\s+10x=\s*([0-9.]+)s"
    r"\s+ratio=\s*([0-9.]+)")
FAILED = re.compile(r"\[scale-probe\]\s+(.+?)\s+FAILED:")


def parse(lines):
    """(label -> (small, big, ratio), labels that FAILED)"""
    out, failed = {}, set()
    for ln in lines:
        m = LINE.search(ln)
        if m:
            out[m.group(1).strip()] = (float(m.group(2)), float(m.group(3)),
                                       float(m.group(4)))
        f = FAILED.search(ln)
        if f:
            failed.add(f.group(1).strip())
    return out, failed


def main():
    args = sys.argv[1:]
    refresh = "--refresh" in args
    args = [a for a in args if a != "--refresh"]
    budget_path = args[0]
    if len(args) > 1:
        with open(args[1]) as f:
            rows, failed = parse(f.readlines())
    else:
        rows, failed = parse(sys.stdin.readlines())
    if not rows and not failed:
        print("check_probe: no [scale-probe] lines found", file=sys.stderr)
        sys.exit(2)

    if refresh:
        # preserve provenance classes across refreshes — budgets are
        # re-measured, WHY a path is super-linear does not change
        try:
            with open(budget_path) as f:
                classes = json.load(f).get("classes", {})
        except FileNotFoundError:
            classes = {}
        budget = {label: round(max(1.8 * r, 6.0), 1)
                  for label, (_, _, r) in sorted(rows.items())}
        with open(budget_path, "w") as f:
            json.dump({"abs_slack_sec": ABS_SLACK, "ratios": budget,
                       "classes": classes}, f, indent=1, sort_keys=True)
        print(f"check_probe: wrote {budget_path} with {len(budget)} labels")
        return

    with open(budget_path) as f:
        spec = json.load(f)
    budget = spec["ratios"]
    classes = spec.get("classes", {})
    slack = spec.get("abs_slack_sec", ABS_SLACK)
    drift = []
    for label, (small, big, ratio) in sorted(rows.items()):
        b = budget.get(label)
        if b is None:
            print(f"  (info) {label:28s} ratio {ratio:6.1f}x — unbudgeted")
            continue
        over = ratio > b and big > b * small + slack
        flag = "DRIFT" if over else "ok"
        cls = classes.get(label)
        tag = f" [{cls}]" if cls else ""
        print(f"  {flag:5s} {label:28s} ratio {ratio:6.1f}x (max {b}x, "
              f"{small:.2f}s -> {big:.2f}s){tag}")
        if over:
            drift.append(label)
    for label in sorted(failed):
        print(f"  FAILED {label} — the probe threw on this label")
    missing = sorted(set(budget) - set(rows) - failed)
    for label in missing:
        print(f"  MISSING {label} — budgeted but not probed")
    # every >10x budget must carry a provenance class (VERDICT r15 #3:
    # the 10x gate stays honest as the suite grows — a big budget with
    # no recorded WHY is a silent quadratic waiting to be grandfathered)
    unclassified = sorted(l for l, b in budget.items()
                          if b > 10.0 and l not in classes)
    for label in unclassified:
        print(f"  NOCLASS {label} — budget {budget[label]}x > 10 needs a "
              f"provenance class (exact-face / by-design-product / "
              f"linear-headroom / needs-fix)")
    if drift or missing or unclassified or failed:
        print(f"check_probe: FAIL ({len(drift)} drift, {len(missing)} "
              f"missing, {len(unclassified)} unclassified)"
              + (f", {len(failed)} failed" if failed else ""))
        sys.exit(1)
    print(f"check_probe: OK ({len(rows)} labels, "
          f"{len(budget)} budgeted, {len(classes)} classed)")


if __name__ == "__main__":
    main()
