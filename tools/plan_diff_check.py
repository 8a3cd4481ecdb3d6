#!/usr/bin/env python3
"""Self-check of tools/plan_diff.py on a PLANS.md dump.

    python3 tools/plan_diff_check.py PLANS.md

PlansDump writes every plan line whole. This check asserts that:
  - the dump compared with itself reads every section `same` (exit 0);
  - no plan line ends in the ` ...` marker of a cut line;
  - one character edited past column 246 of the longest plan line (where
    a cut at 246 characters would have hidden it) reads `DIFF` for that
    section, and only for that section (exit 1).
Exits 1 if any of these fails.
"""
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff as plan_diff_mod  # noqa: E402

CUT = 246
PLAN_DIFF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_diff.py")


def plan_diff(old, new):
    r = subprocess.run([sys.executable, PLAN_DIFF, old, new], capture_output=True, text=True)
    return r.returncode, r.stdout.splitlines()


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        lines = f.read().split("\n")
    failures = []
    code, out = plan_diff(argv[1], argv[1])
    if code != 0:
        failures.append(f"the dump against itself exits {code}")

    # the longest plan line that plan_diff compares (an AQE section keeps
    # only the detail blocks of its Final Plan's nodes)
    title, in_code, block, longest, cut = None, False, [], None, []  # longest = (length, index, title)

    def close(block, title):
        nonlocal longest
        kept = set(plan_diff_mod.final_plan([l for _, l in block]))
        for i, l in block:
            if l in kept and (longest is None or len(l) > longest[0]):
                longest = (len(l), i, title)

    for i, line in enumerate(lines):
        if not in_code and line.startswith("## "):
            title = line[3:].strip()
        elif line.startswith("```"):
            if in_code:
                close(block, title)
            in_code, block = not in_code, []
        elif in_code:
            if len(line) >= 250 and line.endswith(" ..."):
                cut.append(f"line {i + 1} in '{title}'")
            block.append((i, line))
    if cut:
        failures.append(f"{len(cut)} cut plan lines, the first at {cut[0]}")
    if longest is None or longest[0] <= CUT + 1:
        failures.append("no plan line is longer than the old cut")
    else:
        n, i, title = longest
        pos = CUT + (n - CUT) // 2
        # replace one character of the line by another
        ch = lines[i][pos]
        edited = "x" if ch != "x" else "y"
        lines[i] = lines[i][:pos] + edited + lines[i][pos + 1:]
        with tempfile.NamedTemporaryFile("w", suffix=".md", delete=False, encoding="utf-8") as tmp:
            tmp.write("\n".join(lines))
        try:
            code, out = plan_diff(argv[1], tmp.name)
        finally:
            os.unlink(tmp.name)
        diffs = [l for l in out if l.startswith("DIFF")]
        if code != 1 or diffs != [f"DIFF     {title}"]:
            failures.append(f"an edit at column {pos + 1} of line {i + 1} ({n} chars, "
                            f"'{title}') reads {diffs or 'no DIFF'}, exit {code}")
        else:
            print(f"edit at column {pos + 1} of line {i + 1} ({n} chars) reads DIFF: {title}")
    for f in failures:
        print(f"FAIL {f}")
    print(f"FAILS: {len(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
