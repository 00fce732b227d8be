#!/usr/bin/env python3
"""Re-records the catalog's expected answers.

    python3 perfbench/record_reference.py <verify dump dir>

The dump must come from `graft.Verify perfbench/data/sf0.01 <dump>` and
pass `python3 tools/localverify.py perfbench/data/sf0.01 <dump>`. Each
entry's row count and checksum are taken from the dump and written to
perfbench/catalog_expected.json. The reference times in that file
(`ref_s`, one timing pass recorded on four cores) are kept as they are:
they only order the entries into the catalog workload's strata.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp, jvm = run.build()
    work = os.path.join(run.BUILD, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(["java"] + jvm + [run.HEAP, f"-Djava.io.tmpdir={work}/tmp",
                    f"-Dlog4j2.configurationFile={run.BENCH}/log4j2.properties", "-cp", cp,
                    "perfbench.Record", "--bench", run.BENCH, "--work", work,
                    "--dump", sys.argv[1]], check=True)


if __name__ == "__main__":
    main()
