"""Spark-free serving replica: ``python3 -m perfbench.replica``.

Reads one JSON command per stdin line and answers with one JSON line:

- ``{"cmd": "load", "root": R}``: ``load_local_index_published(R)``,
  then serve it with ``PrefixTreeServer`` (started once, swapped after);
  answers ``{"load_s", "version", "port"}``;
- ``{"cmd": "kernel", "queries": [...], "k": K}``: times
  ``LocalIndex.search`` per query with no HTTP in between; answers
  ``{"ms": [...]}``;
- ``{"cmd": "stop"}``: stops the server and exits.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    from prefixtree_spark.serving import PrefixTreeServer, load_local_index_published

    server = None
    index = None
    for line in sys.stdin:
        msg = json.loads(line)
        try:
            if msg["cmd"] == "load":
                t0 = time.perf_counter()
                index, version = load_local_index_published(msg["root"])
                load_s = time.perf_counter() - t0
                if server is None:
                    server = PrefixTreeServer(index).start()
                else:
                    server.swap(index)
                reply = {"load_s": load_s, "version": version, "port": server.address[1]}
            elif msg["cmd"] == "kernel":
                ms = []
                for q in msg["queries"]:
                    t0 = time.perf_counter()
                    index.search(q, int(msg["k"]))
                    ms.append((time.perf_counter() - t0) * 1000.0)
                reply = {"ms": ms}
            elif msg["cmd"] == "stop":
                break
            else:
                reply = {"error": f"unknown command {msg['cmd']!r}"}
        except Exception as e:  # reported to the driver, which counts it
            reply = {"error": f"{type(e).__name__}: {e}"}
        sys.stdout.write(json.dumps(reply) + "\n")
        sys.stdout.flush()
    if server is not None:
        server.stop()


if __name__ == "__main__":
    main()
