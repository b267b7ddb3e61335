"""Gateway launcher owned by the benchmark.

Installs the span wrappers (``--trace 1``) and/or the sensitivity delay,
then calls ``gateway.serve()`` exactly as ``python -m flink_notebooks_spark
gateway`` does. Prints the same ``{"listening": url}`` line, serves until
SIGTERM, then writes its spans and streaming progress to ``--out``.

    python perfbench/gateway_sut.py --cpus 4 --trace 1 --out spans.json
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Tracer  # noqa: E402
import tracing  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        tracing.install(tracer)
    tracing.install_delay(float(os.environ.get("PERFBENCH_DELAY_MS", "0") or 0))

    from flink_notebooks_spark import session as sess_mod
    from flink_notebooks_spark.gateway import serve

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    spark = sess_mod.get_spark("flink-notebooks-spark-gateway", args.cpus)
    progress: list[dict] = []
    server, gw = serve(spark, 0)
    if args.trace:
        # each gateway session is its own SparkSession with its own
        # streaming query manager: listen on every session as it opens
        open_session = gw.manager.open_session

        def listened(properties=None):
            eng = open_session(properties)
            tracing.progress_listener(eng.spark, progress)
            return eng

        gw.manager.open_session = listened
    host, port = server.server_address[:2]
    print(json.dumps({"listening": f"http://{host}:{port}"}), flush=True)
    stop.wait()
    server.shutdown()
    with open(args.out, "w") as f:
        json.dump(
            {
                "spans": tracer.spans,
                "progress": list(progress),
                "app_id": spark.sparkContext.applicationId,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # skip the SparkContext shutdown: the parent stops the JVM with this
    # process's session
    os._exit(code)
