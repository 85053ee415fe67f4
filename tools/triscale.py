#!/usr/bin/env python3
"""Tri-scale closing stamp: run the parity gate (tools/parity.py) over
pre-dumped Verify outputs at sf0.001 / sf0.01 / sf0.1 and record ONE
artifact (TRISCALE.json) proving the full contract hash-green at all
three scales from the same HEAD commit.

Usage:
  python3 tools/triscale.py <out001> <out01> <out1>
where each <outN> is a `graft.Verify` dump directory produced at the
matching scale from the CURRENT commit. The commit hash is recorded;
ContractSpec asserts TRISCALE.json's query-key set matches
SparkEntry.queries, so the stamp goes stale (and the suite fails)
whenever the contract grows without re-stamping.
"""
import sys, os, json, re, subprocess, hashlib

SCALES = ["sf0.001", "sf0.01", "sf0.1"]

def src_tree_id():
    """SHA-256 over every file under src/ plus tools/parity.py (sorted
    relative paths, path\\0content\\0 per file). ContractSpec recomputes
    the same digest and asserts it matches the stamp, so a SEMANTIC
    change to an existing operator (not just a key-set change) goes
    stale-loud until re-stamped. Keep the algorithm in lockstep with
    ContractSpec.srcTreeId."""
    files = []
    for root, _dirs, names in os.walk("src"):
        for n in names:
            files.append(os.path.join(root, n).replace(os.sep, "/"))
    files.append("tools/parity.py")
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p.encode("utf-8")); h.update(b"\0")
        with open(p, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()

def run_parity(sfdir, outdir):
    p = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "parity.py"),
         sfdir, outdir],
        capture_output=True, text=True)
    oks = re.findall(r"^OK   (\S+)", p.stdout, re.M)
    fails = re.findall(r"^FAIL (\S+)", p.stdout, re.M)
    # a CRASHED leg (one of the three concurrent DuckDB replays
    # OOM-killed, a signal, an import error) must read as a loud abort
    # with stderr attached — never as "0 ok, 0 fail" regex-parsed from
    # an empty stdout. parity.py itself exits 0/1 only (1 = red
    # queries, which the stamp records); anything else, or a nonzero
    # exit with NO parseable verdict lines, is a crash.
    if p.returncode not in (0, 1) or (p.returncode != 0 and not (oks or fails)):
        sys.exit(f"parity leg for {sfdir} crashed (exit {p.returncode}):\n"
                 f"--- stdout ---\n{p.stdout}\n--- stderr ---\n{p.stderr}")
    return sorted(oks), sorted(set(f.rstrip(":") for f in fails)), p.stdout

def main():
    outdirs = sys.argv[1:4]
    if len(outdirs) != 3:
        sys.exit(__doc__)
    commit = subprocess.run(["git", "rev-parse", "HEAD"],
                            capture_output=True, text=True).stdout.strip()
    dirty = subprocess.run(["git", "status", "--porcelain"],
                           capture_output=True, text=True).stdout
    src_dirty = [l for l in dirty.splitlines()
                 if re.search(r"\.(scala|sbt|py)\b", l)]
    if src_dirty:
        sys.exit("refusing to stamp: uncommitted source changes:\n" +
                 "\n".join(src_dirty))
    record = {"commit": commit, "src_id": src_tree_id(), "scales": {}}
    keys = None
    # the three parity legs are independent (each its own DuckDB over
    # its own dump dir) — run them concurrently; the sf0.1 leg's serial
    # oracle replay dominates the wall either way
    # each leg's verdict prints as soon as that leg finishes, so a run
    # stopped during the long sf0.1 leg still shows the finished ones
    from concurrent.futures import ThreadPoolExecutor, as_completed
    results = {}
    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = {ex.submit(run_parity, f"/root/testdata/{sf}", outdir): sf
                for sf, outdir in zip(SCALES, outdirs)}
        for f in as_completed(futs):
            sf = futs[f]
            results[sf] = oks, fails, _ = f.result()
            print(f"{sf}: {len(oks)} ok, {len(fails)} fail", flush=True)
    for sf in SCALES:
        oks, fails, _ = results[sf]
        record["scales"][sf] = {"ok": len(oks), "fail": len(fails),
                                "failed_queries": fails}
        ks = set(oks) | set(fails)
        keys = ks if keys is None else keys
        if ks != keys:
            sys.exit(f"query-key drift between scales: {ks ^ keys}")
    record["queries"] = sorted(keys)
    record["all_green"] = all(s["fail"] == 0 for s in record["scales"].values())
    with open("TRISCALE.json", "w") as f:
        json.dump(record, f, indent=1)
    print(f"TRISCALE.json written: commit {commit[:12]}, "
          f"{len(record['queries'])} queries, all_green={record['all_green']}")
    sys.exit(0 if record["all_green"] else 1)

if __name__ == "__main__":
    main()
