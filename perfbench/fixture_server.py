"""The benchmark's stand-in upstreams, in one process of their own.

Runs two loopback ERDDAP servers ("hot" datasets change every NRT cycle,
"cold" ones never do) and one ArcGIS-REST portal, so their request
handling never competes with the client for the interpreter lock.  Each
server handles at most ``max_concurrent`` requests at once and keeps its
own counters (requests, bytes sent, busy seconds).

Started by ``perfbench/run.py`` with the fixture config as a JSON argument;
it prints one JSON line with the three base URLs and then answers JSON-line
commands on stdin: ``touch``, ``stats``, ``reset``, ``portal_rows``,
``stop``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


class _Counting:
    """File-like wrapper that counts the bytes a handler writes."""

    def __init__(self, raw, counter):
        self._raw, self._counter = raw, counter

    def write(self, b):
        self._counter["bytes"] += len(b)
        return self._raw.write(b)

    def __getattr__(self, name):
        return getattr(self._raw, name)


def bound(server, max_concurrent: int) -> dict:
    """Wrap ``server._handle`` with a concurrency bound and counters."""
    gate = threading.BoundedSemaphore(max_concurrent)
    lock = threading.Lock()
    stats = {"requests": 0, "bytes": 0, "busy_s": 0.0, "log": []}
    inner = server._handle

    def handle(h, *args):
        with gate:
            t0 = time.perf_counter()
            counter = {"bytes": 0}
            h.wfile = _Counting(h.wfile, counter)
            try:
                inner(h, *args)
            finally:
                busy = time.perf_counter() - t0
                with lock:
                    stats["requests"] += 1
                    stats["bytes"] += counter["bytes"]
                    stats["busy_s"] += busy
                    stats["log"].append((h.path, counter["bytes"]))

    server._handle = handle
    return stats


def main() -> None:
    cfg = json.loads(sys.argv[1])
    from erddap2agol_spark.sinks.agol_httpd import AgolFixturePortal
    from erddap2agol_spark.sources.erddap_httpd import ErddapFixtureServer

    grid = {g: [tuple(d) for d in divs] for g, divs in cfg["grid"].items()}
    servers = {
        "hot": ErddapFixtureServer(csvp_fixtures=cfg["hot"]),
        "cold": ErddapFixtureServer(csvp_fixtures=cfg["cold"], grid_fixtures=grid),
        "portal": AgolFixturePortal(),
    }
    stats = {k: bound(s, cfg["max_concurrent"]) for k, s in servers.items()}
    urls = {k: s.start() for k, s in servers.items()}
    print(json.dumps(urls), flush=True)
    portal = servers["portal"]
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "touch":
            servers[cmd["server"]].touch(cmd["last_modified"])
            out = {"ok": True}
        elif op == "stats":
            out = {k: {**v, "log": list(v["log"])} for k, v in stats.items()}
        elif op == "reset":
            for v in stats.values():
                v.update(requests=0, bytes=0, busy_s=0.0, log=[])
            out = {"ok": True}
        elif op == "portal_rows":
            with portal._lock:
                titles = {i: it["properties"].get("title") for i, it in portal.items.items()}
                out = {
                    titles.get(svc["item_id"], svc["item_id"]): len(svc["rows"])
                    for svc in portal.services.values()
                }
        elif op == "stop":
            break
        else:
            out = {"error": f"unknown command {op!r}"}
        print(json.dumps(out), flush=True)
    for s in servers.values():
        s.stop()
    print(json.dumps({"stopped": True}), flush=True)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main()
