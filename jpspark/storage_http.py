"""HTTP object-store Storage backend + a stdlib loopback server.

``HttpStorage`` implements the manifest Storage seam over plain HTTP —
the same wire shape an S3/GCS/fsspec backend has: whole-object GET/PUT/
DELETE, HEAD for existence/size/mtime, list-by-prefix, and S3's
``If-None-Match: *`` conditional PUT as the exclusive-create primitive
the OCC commit protocol arbitrates on. It is the fetch-by-key contract:
there is no filesystem address, so every operation crosses a real
socket with HTTP framing and status-code error mapping, and the server
enforces atomicity on ITS side (the way S3 does), not the client.

``HttpStoreServer`` is the matching stdlib ``ThreadingHTTPServer``
fixture (test/CI use): blobs in a lock-guarded dict, conditional PUT
decided under the lock. The client never imports the server — pointing
``HttpStorage`` at any host that honors the five verbs works the same.

Storage objects ship to Spark executors, so the client pickles to just
``(host, port, timeout)`` and opens fresh connections per process.

Wire protocol (all keys percent-encoded into the path):
  PUT    /o/<key>            store body (201); with ``If-None-Match: *``
                             fail 412 if the key exists (atomic)
  GET    /o/<key>            200 body | 404
  HEAD   /o/<key>            200 + Content-Length + X-Mtime | 404
  DELETE /o/<key>            204 | 404
  GET    /list?prefix=<pfx>  200, newline-joined keys (sorted)
"""

from __future__ import annotations

import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .manifest import Storage


class HttpStorage(Storage):
    """Storage-seam client for an HTTP object store (see module doc).

    ``uri()`` raises: Spark's JVM parquet scan needs an addressable
    filesystem, so tables read back via :meth:`get_table` /
    ``get_bytes`` + Arrow. Everything else — the distributed mapInPandas
    sinks, commit, OCC, vacuum — runs unchanged over the socket.
    """

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self.host = host
        self.port = port
        self.timeout = timeout

    def _k(self, root: str, key: str) -> str:
        return f"{root}/{key}".replace("//", "/")

    def _url(self, root: str, key: str) -> str:
        q = urllib.parse.quote(self._k(root, key), safe="")
        return f"http://{self.host}:{self.port}/o/{q}"

    def _req(self, method: str, url: str, data: bytes | None = None, headers=None):
        req = urllib.request.Request(url, data=data, method=method)
        for h, v in (headers or {}).items():
            req.add_header(h, v)
        return urllib.request.urlopen(req, timeout=self.timeout)

    # ------------------------------------------------------------- puts
    def put_bytes(self, root: str, key: str, data) -> None:
        with self._req("PUT", self._url(root, key), data=bytes(data)):
            pass

    def put_text_new(self, root: str, key: str, text: str) -> bool:
        """Exclusive create: S3-style ``If-None-Match: *`` conditional
        PUT. The server decides atomically; 412 means a rival holds the
        key — the losing side of an OCC commit race."""
        try:
            with self._req(
                "PUT",
                self._url(root, key),
                data=text.encode(),
                headers={"If-None-Match": "*"},
            ):
                return True
        except urllib.error.HTTPError as e:
            if e.code == 412:
                return False
            raise

    # ------------------------------------------------------------- gets
    def get_bytes(self, root: str, key: str) -> bytes | None:
        try:
            with self._req("GET", self._url(root, key)) as r:
                return r.read()
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def _head(self, root: str, key: str):
        try:
            with self._req("HEAD", self._url(root, key)) as r:
                return int(r.headers["Content-Length"]), float(r.headers["X-Mtime"])
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def exists(self, root: str, key: str) -> bool:
        return self._head(root, key) is not None

    def size(self, root: str, key: str) -> int:
        h = self._head(root, key)
        if h is None:
            raise FileNotFoundError(self._k(root, key))
        return h[0]

    def mtime(self, root: str, key: str) -> float:
        h = self._head(root, key)
        if h is None:
            raise FileNotFoundError(self._k(root, key))
        return h[1]

    # ------------------------------------------------------------ misc
    def list(self, root: str, prefix: str) -> list[str]:
        full = urllib.parse.quote(self._k(root, prefix), safe="")
        url = f"http://{self.host}:{self.port}/list?prefix={full}"
        with self._req("GET", url) as r:
            body = r.read().decode()
        base = self._k(root, "")
        keys = [k for k in body.splitlines() if k]
        return sorted(k[len(base):] for k in keys)

    def delete(self, root: str, key: str) -> None:
        try:
            with self._req("DELETE", self._url(root, key)):
                pass
        except urllib.error.HTTPError as e:
            if e.code != 404:
                raise
            raise FileNotFoundError(self._k(root, key))

    def uri(self, root: str, key: str) -> str:
        raise NotImplementedError(
            "HttpStorage has no filesystem address for Spark's parquet "
            "scan; read objects back via get_table()/get_bytes()"
        )


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    # the store (dict) and its lock live on the server object
    def _key(self) -> str | None:
        if not self.path.startswith("/o/"):
            return None
        return urllib.parse.unquote(self.path[len("/o/"):])

    def log_message(self, fmt, *args):  # quiet
        pass

    def _send(self, code: int, body: bytes = b"", headers=None):
        self.send_response(code)
        for h, v in (headers or {}).items():
            self.send_header(h, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if self.command != "HEAD":
            self.wfile.write(body)

    def do_PUT(self):
        key = self._key()
        if key is None:
            return self._send(400)
        n = int(self.headers.get("Content-Length", 0))
        data = self.rfile.read(n)
        srv = self.server
        with srv.lock:
            # conditional create decided atomically server-side — the S3
            # If-None-Match semantics Iceberg commits rely on
            if self.headers.get("If-None-Match") == "*" and key in srv.blobs:
                return self._send(412)
            srv.blobs[key] = (time.time(), data)
        self._send(201)

    def do_GET(self):
        srv = self.server
        if self.path.startswith("/list"):
            q = urllib.parse.urlparse(self.path).query
            # parse_qs has already percent-decoded once; decoding again
            # would corrupt prefixes containing literal %XX sequences and
            # desynchronize list from put/get (which decode exactly once)
            pfx = urllib.parse.parse_qs(q).get("prefix", [""])[0]
            with srv.lock:
                keys = sorted(k for k in srv.blobs if k.startswith(pfx))
            return self._send(200, "\n".join(keys).encode())
        key = self._key()
        with srv.lock:
            v = srv.blobs.get(key) if key else None
        if v is None:
            return self._send(404)
        self._send(200, v[1], {"X-Mtime": repr(v[0])})

    def do_HEAD(self):
        key = self._key()
        srv = self.server
        with srv.lock:
            v = srv.blobs.get(key) if key else None
        if v is None:
            return self._send(404)
        self._send(200, v[1], {"X-Mtime": repr(v[0])})

    def do_DELETE(self):
        key = self._key()
        srv = self.server
        with srv.lock:
            existed = key in srv.blobs
            srv.blobs.pop(key, None)
        self._send(204 if existed else 404)


class HttpStoreServer:
    """Loopback object-store server (test/CI fixture): blobs in a
    lock-guarded dict, served by a daemon-threaded stdlib HTTP server.
    ``client()`` returns a picklable :class:`HttpStorage` aimed at it."""

    def __init__(self, host: str = "127.0.0.1"):
        self._httpd = ThreadingHTTPServer((host, 0), _Handler)
        self._httpd.blobs = {}
        self._httpd.lock = threading.Lock()
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        self.host, self.port = self._httpd.server_address

    def client(self) -> HttpStorage:
        return HttpStorage(self.host, self.port)

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
