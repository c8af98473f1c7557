"""Generator determinism self-check.

    python3 perfbench/selfcheck.py [--seed N]

For each workload: the same seed must write identical input content; the
next seed must write different content with the same planted shares; and
the benchmark's output checks must pass on both seeds (one short run
each). Prints one JSON object and exits non-zero if any check fails.
"""
import argparse
import hashlib
import json
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

SHARE_KEYS = {"curate": [("kind",)], "ingest": [("batch", "role"), ("batch", "validity")]}


def content_hash(d):
    """Hash of every input table's rows, in file order."""
    h = hashlib.sha256()
    for f in sorted(d.rglob("*.parquet")):
        if f.name != "truth.parquet":
            h.update(str(f.relative_to(d)).encode())
            h.update(repr(pq.read_table(f).to_pylist()).encode())
    return h.hexdigest()


def shares(d, workload):
    t = pq.read_table(d / "truth.parquet").to_pydict()
    return [Counter(zip(*(t[k] for k in keys))) for keys in SHARE_KEYS[workload]]


def run(workload, seed):
    out = subprocess.run([sys.executable, str(Path(__file__).parent / "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--trace", "0"],
                         stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        return False
    r = json.loads(out.stdout.strip().splitlines()[-1])
    return r["correct"] and r["failed"] == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    root = build.BUILD / "selfcheck"
    results = {}
    for w in sorted(gen.SIZES):
        dirs = {tag: root / tag for tag in ("a", "b", "c")}
        shutil.rmtree(root, ignore_errors=True)
        for tag, s in (("a", seed), ("b", seed), ("c", seed + 1)):
            gen.generate(w, s, dirs[tag])
        d = {tag: p / w for tag, p in dirs.items()}
        results[w] = {
            "same_seed_same_content": content_hash(d["a"]) == content_hash(d["b"]),
            "other_seed_other_content": content_hash(d["a"]) != content_hash(d["c"]),
            "other_seed_same_shares": shares(d["a"], w) == shares(d["c"], w),
            "output_checks_pass_both_seeds": run(w, seed) and run(w, seed + 1),
        }
    shutil.rmtree(root, ignore_errors=True)
    ok = all(all(r.values()) for r in results.values())
    print(json.dumps({"selfcheck": results, "ok": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
