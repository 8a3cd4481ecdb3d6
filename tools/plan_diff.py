#!/usr/bin/env python3
"""Compare the plan shapes of two PLANS.md dumps, section by section.

    python3 tools/plan_diff.py OLD.md NEW.md [q21 q22 ...]

A section is one `## <title>` heading of the dump; only its fenced plan
block is compared, never the prose note above it. Sections are matched by
their `qNN` prefix, so a retitled query section still meets its old self; a
section without a q-number is matched by its whole title. Optional
arguments restrict the comparison to sections whose title starts with one
of them (`q57` matches "q57 composed corpus chain ...").

An AQE section is compared on its Final Plan tree, the detail blocks of the
nodes in that tree, with every node renumbered in the order it first
appears there, and the shape of its Initial Plan tree, node numbers masked.
Explain numbers nodes globally, and the Initial Plan may number a shared
`Scan ExistingRDD` once or twice from one run of the same code to the next,
which would otherwise shift the Final Plan's numbers too.

Before comparing, everything else that changes between two runs of the SAME
code is masked:
  - expression ids (`name#123L` -> `name#L`) and the JVM-wide counter in
    lambda variable names (`lambda x_115#` -> `lambda x_#`);
  - lambda class names (`$$Lambda$12/0x00007f..` -> `$$Lambda`) and object
    identity hashes (`Kmv$KmvAgg@631c4e65` -> `Kmv$KmvAgg@`);
  - RDD ids and their call-site line numbers
    (`MapPartitionsRDD[845] at localCheckpoint at Dedup.scala:482`
     -> `MapPartitionsRDD[] at localCheckpoint at Dedup.scala`);
  - the directory part of `file:` locations (the checkout's own path);
  - exchange `plan_id=N`, whole-stage `codegen id : N`, and the stage id
    that AQE prints as the `Arguments: N` of a query-stage node (both are
    numbered in the order stages happen to finish);
  - the `sizeInBytes` of a broadcast query stage (the hashed relation's
    allocated pages, which follow the JVM's heap size, not the data).

Prints one line per compared section (`same` / `DIFF` / `MISSING`), a
unified diff of the masked plan for each differing section, and exits 1
if any compared section differs or is missing on one side.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_#"),
    (re.compile(r"\$\$Lambda(\$\d+)?(/0x[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"([\w$])@[0-9a-f]+\b"), r"\1@"),
    (re.compile(r"RDD\[\d+\] at (\S+) at ([\w$.]+):\d+"), r"RDD[] at \1 at \2"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"file:[^\s,\]]*/"), "file:.../"),
]
NODE = re.compile(r"^\(\d+\) (\S+)")
STAGE_ID = re.compile(r"^Arguments: \d+$")
BCAST_SIZE = re.compile(r"(BroadcastQueryStage \(\d+\), Statistics\(sizeInBytes=)[^,]+")
TREE_ID = re.compile(r"\((\d+)\)")
DETAIL_ID = re.compile(r"^\((\d+)\)")
REUSES = re.compile(r"(Reuses operator id: )(\d+)")
QNUM = re.compile(r"q\d+\b")


def final_plan(lines):
    """An AQE explain cut to its Final Plan tree and that tree's node
    details, nodes renumbered by first appearance, plus the Initial Plan
    tree with node numbers masked; other plans unchanged."""
    if "+- == Final Plan ==" not in lines:
        return lines
    end = lines.index("+- == Initial Plan ==")
    tree, ids = lines[:end], {}
    for line in tree:
        for m in TREE_ID.finditer(line):
            ids.setdefault(m.group(1), str(len(ids) + 1))
    renum = lambda m: "(" + ids.get(m.group(1), m.group(1)) + ")"
    out = [TREE_ID.sub(renum, l) for l in tree]
    blocks, cur, initial = [], None, True
    for line in lines[end:]:
        initial = initial and DETAIL_ID.match(line) is None
        if initial:
            out.append(TREE_ID.sub("(N)", line))
            continue
        m = DETAIL_ID.match(line)
        if m:
            cur = [] if m.group(1) in ids else None
            if cur is not None:
                blocks.append((int(ids[m.group(1)]), cur))
        if cur is not None:
            cur.append(REUSES.sub(lambda r: r.group(1) + ids.get(r.group(2), r.group(2)),
                                  DETAIL_ID.sub(renum, line)))
    for _, block in sorted(blocks, key=lambda b: b[0]):
        out += block
    return out


def mask(lines):
    out, node = [], ""
    for line in lines:
        m = NODE.match(line)
        if m:
            node = m.group(1)
        if node.endswith("QueryStage") and STAGE_ID.match(line):
            line = "Arguments: N"
        line = BCAST_SIZE.sub(r"\1", line)
        for pat, rep in MASKS:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def section_key(title):
    """A section's match key: its `qNN` prefix, else its whole title."""
    m = QNUM.match(title)
    return m.group(0) if m else title


def sections(path):
    """key -> (title, masked lines of the section's fenced blocks)."""
    secs, key, in_code = {}, None, False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if not in_code and line.startswith("## "):
                title = line[3:].strip()
                key = section_key(title)
                secs[key] = (title, [])
            elif line.startswith("```"):
                in_code = not in_code
            elif in_code and key is not None:
                secs[key][1].append(line)
    return {k: (t, mask(final_plan(ls))) for k, (t, ls) in secs.items()}


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    old, new = sections(argv[1]), sections(argv[2])
    wanted = argv[3:]
    title = lambda k: (new.get(k) or old[k])[0]
    keys = [k for k in dict.fromkeys(list(old) + list(new))
            if not wanted or any(title(k).startswith(w) for w in wanted)]
    unmatched = [w for w in wanted if not any(title(k).startswith(w) for k in keys)]
    for w in unmatched:
        print(f"MISSING  {w}: no section title starts with it")
    bad = len(unmatched)
    for k in keys:
        if k not in old or k not in new:
            print(f"MISSING  {title(k)} (only in {'new' if k in new else 'old'})")
            bad += 1
        elif old[k][1] == new[k][1]:
            print(f"same     {title(k)}")
        else:
            print(f"DIFF     {title(k)}")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                old[k][1], new[k][1], "old", "new", n=1, lineterm=""))
            bad += 1
    print(f"sections={len(keys)} differing={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
