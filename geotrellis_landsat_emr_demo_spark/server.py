"""Thin HTTP wrapper over the query surface — route parity with the
reference's akka-http server (server/src/main/scala/demo/Router.scala:52-59):

  GET  /catalog
  GET  /tiles/{layer}/{zoom}/{x}/{y}?time=&operation=        -> image/png
  GET  /diff/{layer}/{zoom}/{x}/{y}?time1=&time2=&operation= -> image/png
  POST /mean/{layer}/{op}?time=&otherTime=   (body: GeoJSON) -> {"answer": f}
  GET  /series/{layer}/{op}?lat=&lng=                        -> {"answer": [...]}
  GET  /readall/{layer}                                      -> {"count": n}

Presentation only: all logic lives in plans.queries.LayerService.  Uses the
stdlib ThreadingHTTPServer (no extra deps in this image); missing tiles
return 200 with empty body like the reference's HttpResponse for None
(ReaderSet.scala:76-79).  A bad request (missing or malformed parameter,
unknown layer or operation, non-polygonal GeoJSON) gets 400, an unknown
route 404.
"""

from __future__ import annotations

import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .plans.queries import LayerService


def make_handler(svc: LayerService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, body: bytes, ctype: str, code: int = 200):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Access-Control-Allow-Origin", "*")  # cors()
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _json(self, obj, code: int = 200):
            def clean(v):
                if isinstance(v, float) and math.isnan(v):
                    return None  # NaN answer -> JSON null
                if isinstance(v, dict):
                    return {k: clean(x) for k, x in v.items()}
                if isinstance(v, (list, tuple)):
                    return [clean(x) for x in v]
                return v

            self._send(
                json.dumps(clean(obj)).encode(), "application/json", code
            )

        def do_GET(self):
            self._handle(0)

        def do_POST(self):
            self._handle(self.headers.get("Content-Length", 0))

        def _handle(self, body_len):
            try:
                n = int(body_len)
                if n < 0:  # rfile.read(-1) would block until the client hangs up
                    raise ValueError(f"negative Content-Length: {n}")
                self._route(self.rfile.read(n).decode() if n else None)
            except (KeyError, ValueError) as e:
                # missing parameter or unknown layer (KeyError); unknown
                # operation, non-numeric or malformed parameter or body
                # (ValueError)
                self._json({"error": str(e)}, 400)
            except Exception as e:  # pragma: no cover
                self._json({"error": str(e)}, 500)

        def _route(self, body):
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            if not parts:
                return self._json({"routes": ["catalog", "tiles", "diff", "mean", "series", "readall"]})
            head = parts[0]
            if head == "catalog":
                return self._json(svc.catalog())
            if head == "tiles" and len(parts) == 5:
                _, layer, z, x, y = parts
                png = svc.render_tile(
                    layer, int(z), int(x), int(y), q["time"], q.get("operation")
                )
                return self._send(png or b"", "image/png")
            if head == "diff" and len(parts) == 5:
                _, layer, z, x, y = parts
                png = svc.render_diff(
                    layer, int(z), int(x), int(y), q["time1"], q["time2"],
                    q.get("operation", "ndvi"),
                )
                return self._send(png or b"", "image/png")
            if head == "mean" and len(parts) == 3:
                _, layer, op = parts
                ans = svc.polygonal_mean(
                    layer, op, body, q["time"], q.get("otherTime")
                )
                return self._json({"answer": ans})
            if head == "series" and len(parts) == 3:
                _, layer, op = parts
                ans = svc.time_series(layer, op, float(q["lat"]), float(q["lng"]))
                return self._json({"answer": ans})
            if head == "readall" and len(parts) == 2:
                return self._json({"count": svc.read_all_count(parts[1])})
            if head == "readall" and len(parts) == 3:
                # /readall/{layer}/{zoom}: the reference's dual-path timing
                # probe (Router.scala:224-264)
                return self._json(
                    {"result": svc.read_all_bench(parts[1], int(parts[2]))}
                )
            self._json({"error": "no such route"}, 404)

    return Handler


def serve(cat, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a background thread; returns (server, port)."""
    svc = LayerService(cat)
    httpd = ThreadingHTTPServer((host, port), make_handler(svc))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd, httpd.server_address[1]
