#!/usr/bin/env python3
"""Self-test of the benchmark harness. Run from the repository root:

    python3 perfbench/selftest.py [--quick]

1. The same seed gives byte-identical input digests; another seed does not.
2. The generator refuses the inputs the replication scheme cannot serve:
   replicas < 1, ids at or above the replica shift, embeddings not 64 long.
3. Every workload's run is correct on a clean output and exits non-zero
   when its output is perturbed (one row dropped, one value changed).
   `--quick` skips this part (it runs nine short benchmark runs).
"""
import copy
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ["migrate", "corpus", "lakehouse"]


def expect_refusal(what, patch):
    saved = copy.deepcopy(gen.SIZES)
    try:
        patch()
        gen.generate("corpus", 1, os.path.join(TMP, "bad"))
    except ValueError as e:
        print(f"ok   refuses {what}: {e}")
        return True
    finally:
        gen.SIZES.clear()
        gen.SIZES.update(saved)
    print(f"FAIL accepted {what}")
    return False


def main():
    ok = True
    for w in WORKLOADS:
        a, _ = gen.generate(w, 11, os.path.join(TMP, w, "a"))
        b, _ = gen.generate(w, 11, os.path.join(TMP, w, "b"))
        c, _ = gen.generate(w, 12, os.path.join(TMP, w, "c"))
        good = a == b and a != c
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {w}: seed 11 digest {a[:16]} "
              f"twice, seed 12 {c[:16]}")

    ok &= expect_refusal("replicas = 0",
                         lambda: gen.SIZES["corpus"].update(replicas=0))
    ok &= expect_refusal("ids reaching the shift",
                         lambda: setattr(gen, "SHIFT", 100))
    gen.SHIFT = 1_000_000_000
    saved_dim = gen.DIM
    ok &= expect_refusal("embedding length != 64",
                         lambda: setattr(gen, "_base_vectors",
                                         _short_vectors))
    gen._base_vectors = _orig_base_vectors
    gen.DIM = saved_dim

    if "--quick" not in sys.argv:
        for w in WORKLOADS:
            for perturb in (None, "drop", "change"):
                cmd = [sys.executable, os.path.join(HERE, "run.py"),
                       "--workload", w, "--seed", "5", "--seconds", "3",
                       "--trace", "0"]
                if perturb:
                    cmd += ["--perturb", perturb]
                rc = subprocess.run(cmd, stdout=subprocess.DEVNULL,
                                    stderr=subprocess.DEVNULL).returncode
                good = (rc == 0) if perturb is None else (rc != 0)
                ok &= good
                print(f"{'ok  ' if good else 'FAIL'} {w} "
                      f"{perturb or 'clean'}: exit {rc}")
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


_orig_base_vectors = gen._base_vectors


def _short_vectors(rng, c):
    return _orig_base_vectors(rng, c)[:, :63]


if __name__ == "__main__":
    TMP = os.path.join(HERE, ".runs", f"selftest-{os.getpid()}")
    try:
        sys.exit(main())
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
