"""Serving process for the benchmark: msgvault_spark.server.serve() over a
prepared source directory, run the way a server user runs it.

    python3 perfbench/server_main.py --sf-dir DIR --ready FILE
        [--prewarm-wait] [--trace-out FILE] [--verify-in FILE]

The session is the library default (``get_spark()``). Once the server
answers, the launcher writes ``{"port": N, "pid": N}`` to the ready file
(atomically) and then serves until SIGTERM or SIGINT. With
``--prewarm-wait`` a stop signal first waits for the background plan
prewarm to finish (the lake build uses it, so every artifact prewarm
touches is on disk while the build's requests overlap the prewarm).

With ``--trace-out`` it installs the span wrappers of ``tracing.py``
before ``serve()`` is called, and on shutdown it writes the spans, the
per-request Spark job counts and the catalog memo state to that file. With
``--verify-in`` as well, it first answers the requests listed in that file
in-process through ``api.*`` and records the answers next to the spans, so
the load generator can compare them with what came over HTTP.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def _write_atomic(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--prewarm-wait", action="store_true")
    ap.add_argument("--trace-out")
    ap.add_argument("--verify-in")
    args = ap.parse_args()

    stop = threading.Event()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: stop.set())

    tracer = None
    if args.trace_out:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()

    from msgvault_spark.server import serve
    from msgvault_spark.session import get_spark

    spark = get_spark()
    srv = serve(spark, args.sf_dir)
    if tracer is not None:
        tracer.attach(srv)
    _write_atomic(args.ready, {"port": srv.port, "pid": os.getpid()})

    while not stop.wait(0.2):
        pass
    if args.prewarm_wait and srv.prewarm_handle is not None:
        srv.prewarm_handle.wait()

    if tracer is not None:
        verify = {}
        if args.verify_in and os.path.exists(args.verify_in):
            with open(args.verify_in) as f:
                verify = tracing.answer_in_process(
                    spark, args.sf_dir, json.load(f)
                )
        _write_atomic(args.trace_out, tracer.report(spark, verify))
    srv.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
