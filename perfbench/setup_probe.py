"""One cold set-up in a fresh process: prints its timings as one JSON line.

Started by ``harness.probe_setups`` with the benchmark's environment
already in place (``prepare_env``); not meant to be run by hand."""

from __future__ import annotations

import json
import os
import sys

sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench.harness import timed_setup  # noqa: E402


def main() -> None:
    spark, _, sample = timed_setup("perfbench-setup-probe")
    print(json.dumps(sample), flush=True)
    # the sample is taken; end the JVM without the graceful shutdown
    jvm = spark.sparkContext._gateway.proc
    jvm.kill()
    jvm.wait()
    os._exit(0)


if __name__ == "__main__":
    main()
