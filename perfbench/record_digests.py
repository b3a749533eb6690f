"""Record the text_curation output-id digests that run.py checks against.

    python3 perfbench/record_digests.py

Runs run_curation once per corpus variant and writes perfbench/digests.json.
Run it only on a commit whose curation output is known good; the digests
then catch any later change to which documents survive.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = run.isolate(f"record-{os.getpid()}")
    from simhash_spark.session import get_spark

    spark = get_spark(parallelism=run.SLOTS, driver_memory=run.DRIVER_MEMORY)
    wl = run.TextCuration()
    digests = {}
    try:
        for variant in range(wl.variants):
            wl.prepare(run.HERE / ".work" / "cache", variant)
            out = work / f"v{variant}"
            wl.call(spark, out)
            digests[f"{wl.n_docs}:{variant}"] = wl.output_digest(out)
            run.log(f"variant {variant}: {digests[f'{wl.n_docs}:{variant}']}")
    finally:
        spark.stop()
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    run.DIGESTS.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
