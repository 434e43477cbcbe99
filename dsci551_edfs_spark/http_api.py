"""HTTP facade: the reference's Flask GET surface over the Spark engine.

The reference exposes its filesystem + aggregate grammar as Flask GET
routes returning a `{"response": ..., "status": "EDFS<code>"}` envelope
with HTTP 200 (`/root/reference/combined_flask.py:85-697`; envelope
construction `:590-597`; firebase_* family `:849-1500`). This module
serves the SAME ten routes — plus the `firebase_`-prefixed aliases and
the four hardcoded-column aggregate endpoints — on the stdlib
`http.server` (Flask is not available in the container, and a
dependency-free facade is all the surface needs: every route is a thin
param-mapping onto `EdfsShell.run`, the single dispatch the REPL grammar
already uses, so both surfaces serve byte-identical envelopes).

Intentional divergences, mirroring the CLI module's:
- one engine, two historical endpoint families: `firebase_cat` and
  `cat` hit the same Spark-backed catalog (the reference kept separate
  MySQL/Firebase backends; the storage split is delegated per
  SURVEY.md §1.3);
- unknown routes answer HTTP 404 with an EDFS400 envelope (the
  reference let Flask emit its HTML 404 page — an envelope is strictly
  more consumable);
- like the reference, every KNOWN route answers HTTP 200 and carries
  the real status in the envelope's EDFS code. Engine exceptions the
  shell's whitelist doesn't catch (AnalysisException etc.) become an
  EDFS500 envelope rather than a dropped connection — the reference's
  equivalent is Flask's HTML 500 page, which is strictly less
  consumable;
- `put` requires `partitions`: the reference DOCSTRING marks it
  optional but the code does `int(args['partitions'])` unguarded
  (combined_flask.py:356), so omitting it there yields a Flask HTML
  500. We keep it required for CLI-grammar parity and answer a clean
  EDFS400 envelope instead of a 500.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .cli import DEFAULT_SF_DIR, EdfsShell
from .operators import aggregates as AGG
from .session import get_spark

#: route -> (required params, trailing optional params), in the
#: positional order EdfsShell.run expects (combined_flask.py:85-697)
ROUTES: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "mkdir": (("path",), ()),
    "ls": (("path",), ()),
    "cat": (("path",), ()),
    "rm": (("path",), ()),
    "put": (("source", "destination", "partitions"), ("hash",)),
    "getPartitionLocations": (("path",), ()),
    "readPartition": (("path", "partition"), ()),
    "getAvg": (("path", "col"), ("debug", "hash")),
    "getMax": (("path", "col"), ("debug", "hash")),
    "getMin": (("path", "col"), ("debug", "hash")),
}

#: hardcoded-column aggregate endpoints (fs_commands.py:396-460 parity;
#: the column is bound server-side, so `col` is not a param)
for _hard in AGG.HARDCODED_AVG_COLUMNS:
    ROUTES[_hard] = (("path",), ("debug", "hash"))

#: engine extensions beyond the reference surface, mirroring the shell's
#: extended grammar: run any registered catalog query / list the registry
ROUTES["query"] = (("name",), ("sf_dir", "limit"))
ROUTES["queries"] = ((), ())


def dispatch(shell: EdfsShell, route: str, params: dict[str, str]) -> dict:
    """Map one GET route + query params onto the shell grammar and run
    it. Returns the `{response, status}` envelope; unknown routes raise
    KeyError (the handler turns that into the 404 envelope)."""
    cmd = route
    if cmd not in ROUTES and cmd.startswith("firebase_"):
        # alias family: same engine, reference-parity route names
        cmd = cmd[len("firebase_") :]
    required, optional = ROUTES[cmd]
    missing = [p for p in required if p not in params]
    if missing:
        return {
            "response": f"{route}: missing required argument(s): "
            + ", ".join(missing),
            "status": "EDFS400",
        }
    args = [params[p] for p in required]
    # trailing optionals are positional in the shell grammar: fill every
    # optional up to the LAST one actually supplied (debug defaults to
    # "false" when only hash is given)
    supplied = [i for i, p in enumerate(optional) if p in params]
    if supplied:
        # every leading optional needs a real default here: the shell
        # grammar is positional, so `/query?name=X&limit=N` must fill
        # sf_dir with the shell's documented default, not ""
        defaults = {"debug": "false", "sf_dir": DEFAULT_SF_DIR}
        args += [
            params.get(p, defaults.get(p, ""))
            for p in optional[: supplied[-1] + 1]
        ]
    return shell.run(cmd, args)


class EdfsHttpHandler(BaseHTTPRequestHandler):
    shell: EdfsShell  # injected by make_server

    def do_GET(self):  # noqa: N802 (http.server API)
        parsed = urllib.parse.urlparse(self.path)
        route = parsed.path.strip("/")
        params = dict(urllib.parse.parse_qsl(parsed.query))
        try:
            envelope = dispatch(self.shell, route, params)
            code = 200  # reference: HTTP 200 always, status in envelope
        except KeyError:
            envelope = {
                "response": f"unknown route: /{route}",
                "status": "EDFS400",
            }
            code = 404
        except Exception as e:  # noqa: BLE001 — every known route must
            # answer an envelope; engine exceptions outside the shell's
            # whitelist (AnalysisException, Py4JJavaError, ...) would
            # otherwise drop the connection with no JSON. Only the class
            # name plus the first line, truncated, goes over the wire:
            # Py4J/AnalysisException messages embed filesystem paths and
            # plan trees — internals a network client has no business
            # seeing (full text still reaches the server log via stderr).
            first_line = str(e).splitlines()[0] if str(e) else ""
            envelope = {
                "response": f"{type(e).__name__}: {first_line[:200]}",
                "status": "EDFS500",
            }
            code = 200
        # `default=str`, as `cli.main` and `repl` print: a `debug` partial
        # over a decimal column is a `Decimal`
        body = json.dumps(envelope, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet: envelopes carry status
        pass


def make_server(
    shell: EdfsShell, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Bind (port=0 → ephemeral, for tests) without starting the loop."""
    handler = type("BoundHandler", (EdfsHttpHandler,), {"shell": shell})
    return ThreadingHTTPServer((host, port), handler)


def start_server(
    shell: EdfsShell, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Serve on a daemon thread; returns (server, thread). Callers stop
    with server.shutdown(). Requests serialize through the one Spark
    driver — concurrency here is connection handling, not query
    parallelism (that's the executors' job)."""
    server = make_server(shell, host, port)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def main(argv: list[str] | None = None) -> int:
    """Serve the EDFS shell over HTTP with the session and default
    warehouse `cli.main` uses, so both surfaces serve the same tables."""
    import argparse
    import os

    from .memo import scratch_root

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=5000)
    ap.add_argument(
        "--warehouse",
        default=os.path.join(scratch_root(), "warehouse"),
        help="EDFS warehouse dir (default: <scratch root>/warehouse)",
    )
    ns = ap.parse_args(argv)
    shell = EdfsShell(get_spark("edfs-http"), ns.warehouse)
    server = make_server(shell, ns.host, ns.port)
    print(f"EDFS HTTP API on http://{ns.host}:{server.server_address[1]}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
