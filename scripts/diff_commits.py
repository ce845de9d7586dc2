#!/usr/bin/env python3
"""Compare the commit logs of two graft-tx table trees, line by line.

    python3 scripts/diff_commits.py <rootA> <rootB>

Each root is a table root or any directory holding table roots: every
`_commits` dir under <rootA> is paired with the same relative path under
<rootB>, and so is each `_commits/v<N>` file in it. Before comparing,
`include:<manifest>` lines are expanded into the manifest's entry lines
(the path is relative to the table root), and UUIDs become `<uuid>`, so
two runs of the same writes compare equal however their dirs were named
and their entries packed; an absolute path under the root (a shallow
clone's entries name its source's dirs that way) starts with `<root>`.
An entry's `pd:` sidecar segments are written sorted by sidecar name,
i.e. by UUID, so they compare as a sorted set.
A `batch:<stream>:<id>` tag's stream becomes `<stream1>`, `<stream2>`, ...
numbered by first appearance in the table (versions in order, lines in
file order): a sink's stream id may be derived from a per-run path, such
as a hash of its checkpoint location, so two runs of one build name the
same stream differently.
A scratch table dir's per-JVM owner token (`graft-<name>-<hash>-<owner>`,
see `Scratch.owner`) is dropped from paths and lines, so the same table
pairs up across two runs.
A commit's other lines (`op:` and the table headers) compare as a sorted
list: every reader looks a header up by its prefix, so their order carries
no meaning. Entry lines (`dir:`/`delta:`, after expansion) keep their
order, which is merge-on-read resolution order.
Prints a unified diff per differing pair and exits 1 on any difference
(including a table or version present on one side only), 0 otherwise.
"""
import difflib
import os
import re
import sys

UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
VERSION = re.compile(r"v\d+")
BATCH = re.compile(r"batch:(.*):(\d+)")
OWNER = re.compile(r"(graft-[A-Za-z0-9]+-[0-9a-f]{8})-[0-9a-f]{8}")


def unowned(path):
    return OWNER.sub(r"\1", path)


def commit_dirs(root):
    """Every `_commits` dir under `root`: its relative path without owner
    tokens, mapped to its relative path."""
    out = {}
    for d, subdirs, _ in os.walk(root):
        if "_commits" in subdirs:
            rel = os.path.relpath(os.path.join(d, "_commits"), root)
            out[unowned(rel)] = rel
    return out


def versions(commits):
    return {f for f in os.listdir(commits) if VERSION.fullmatch(f)}


def normalize(line, root, streams):
    """`line` with the tree `root`, UUIDs and stream ids replaced;
    `streams` maps the table's stream ids seen so far to their tokens."""
    line = unowned(UUID.sub("<uuid>", line.replace(root, "<root>")))
    tag = BATCH.fullmatch(line)
    if tag:
        token = streams.setdefault(tag.group(1), f"<stream{len(streams) + 1}>")
        return f"batch:{token}:{tag.group(2)}"
    if not is_entry(line):
        return line
    segs = line.split("|")
    pds = sorted(s for s in segs if s.startswith("pd:"))
    return "|".join([s for s in segs if not s.startswith("pd:")] + pds)


def is_entry(line):
    return line.startswith(("dir:", "delta:"))


def lines_of(root, table_root, commit_file, streams):
    """A commit's lines, manifests expanded, UUIDs and stream ids
    normalized: its other lines sorted, then its entry lines in order."""
    out = []
    with open(commit_file, encoding="utf-8") as f:
        for line in f.read().split("\n"):
            if line.startswith("include:"):
                with open(os.path.join(table_root, line[len("include:"):]),
                          encoding="utf-8") as m:
                    out.extend(l for l in m.read().split("\n") if l)
            else:
                out.append(line)
    out = [normalize(l, root, streams) for l in out]
    return sorted(l for l in out if not is_entry(l)) + [
        l for l in out if is_entry(l)]


def main(root_a, root_b):
    differ = False
    abs_a, abs_b = os.path.abspath(root_a), os.path.abspath(root_b)
    dirs_a, dirs_b = commit_dirs(root_a), commit_dirs(root_b)
    for rel in sorted(dirs_a.keys() ^ dirs_b.keys()):
        print(f"only under {root_a if rel in dirs_a else root_b}: {rel}")
        differ = True
    for rel in sorted(dirs_a.keys() & dirs_b.keys()):
        ca = os.path.join(root_a, dirs_a[rel])
        cb = os.path.join(root_b, dirs_b[rel])
        va, vb = versions(ca), versions(cb)
        for v in sorted(va ^ vb):
            print(f"only under {ca if v in va else cb}: {v}")
            differ = True
        streams_a, streams_b = {}, {}
        for v in sorted(va & vb):
            a = lines_of(abs_a, os.path.dirname(ca), os.path.join(ca, v),
                         streams_a)
            b = lines_of(abs_b, os.path.dirname(cb), os.path.join(cb, v),
                         streams_b)
            diff = list(difflib.unified_diff(
                a, b, os.path.join(ca, v), os.path.join(cb, v), lineterm=""))
            if diff:
                print("\n".join(diff))
                differ = True
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
