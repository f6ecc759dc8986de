#!/usr/bin/env python3
"""Write perfbench/expected/curation_batch.txt from the program as it is.

    python3 perfbench/record_expected.py      # from the root of a checkout

Runs CurationPipeline.runWithPacking once on each of the REP_VARIANTS
generated curation_batch corpora and records its report line per variant.
A benchmark run fails its output check when the program's report for the
run's variant differs from the committed line, so re-record only when a
change to the funnel counts is intended, and say so in the change.
"""
import os
import shutil
import sys

import gen
import run

OUT = os.path.join(run.HERE, "expected", "curation_batch.txt")


def main():
    os.makedirs(run.BUILD, exist_ok=True)
    cp = run.build()
    cache = os.path.join(run.BUILD, "inputs")
    dirs = [gen.materialize("curation_batch", v, cache) for v in range(gen.REP_VARIANTS)]
    work = os.path.join(run.BUILD, "work", f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    lines = os.path.join(work, "lines.txt")
    try:
        with open(lines, "w") as f:
            rc = run.run_child(run.java_cmd(cp, work) + [
                "graft.perf.Record", "--work", work, "--nproc", "4", *dirs],
                timeout=1800, cwd=work, stdout=f)
        if rc != 0:
            run.log(f"recording exited {rc}")
            return 1
        with open(lines) as f:
            got = sorted((x for x in f if "\t" in x), key=lambda x: int(x.split("\t")[0]))
        if len(got) != gen.REP_VARIANTS:
            run.log(f"{len(got)} report lines for {gen.REP_VARIANTS} variants")
            return 1
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        with open(OUT, "w") as f:
            f.writelines(got)
        run.log(f"wrote {OUT}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
