"""Check that a benchmark run leaves the repository as it found it.

    python3 perfbench/check_hermetic.py

Runs a short traced run of isolate_search and of corpus_ingest from the root
of a git clone and compares ``git status --porcelain --ignored`` before and
after; ``--ignored`` because a stray ``spark-warehouse/`` or
``metastore_db/`` is already in ``.gitignore`` and would not show otherwise.  The build directory
``.bench_build/`` (ignored, and where every input, index, result,
``spark-warehouse`` and temporary file of a run goes) is the only path
allowed to change.  Exits 1 and lists the paths that changed otherwise.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def status():
    out = subprocess.run(["git", "status", "--porcelain", "--ignored"],
                         cwd=ROOT, capture_output=True, text=True, check=True)
    return {line for line in out.stdout.splitlines()
            if not line[3:].startswith(".bench_build")}


def main():
    before = status()
    for workload in ("isolate_search", "corpus_ingest"):
        subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", "1", "--seconds", "2", "--trace",
                        "1"], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    after = status()
    if before != after:
        print("run changed the repository:")
        for line in sorted(before ^ after):
            print("  " + line)
        sys.exit(1)
    print("git status unchanged")


if __name__ == "__main__":
    main()
