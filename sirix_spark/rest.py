"""REST façade — the reference's entry point 2 (SURVEY.md §3).

Maps the SirixVerticle route surface
(bundles/sirix-rest-api/.../SirixVerticle.kt:371-520, revision params
crud/Revisions.kt:17-45, history/diff handlers SirixVerticle.kt:508-520)
onto the versioned store, with Spark SQL as the query language in
place of JSONiq:

    GET    /                                 list databases
    GET    /{db}                             list resources
    GET    /{db}/{res}                       serialize latest revision
      ?revision=N                            specific revision
      ?revision-timestamp=ISO                revision current at instant
      ?start-revision=A&end-revision=B       range of revisions
      ?query=SQL                             SQL over view named {res}
      ?limit=N                               row budget (serializer
                                             maxNodes analog)
    GET    /{db}/{res}/history               revision metadata list
    GET    /{db}/{res}/diff?first-revision=A&second-revision=B
                                             JSON-patch diff
    POST   /{db}/{res}?key=<field>           create resource (body:
                                             JSON array or NDJSON)
    PUT    /{db}/{res}?key=<field>           upsert → new revision
    DELETE /{db}/{res} | /{db}               drop resource / database

The ?key= field given at POST/PUT is canonicalized to `record_key`
in responses — the stable node identity (sdb:nodekey analog) that
all temporal endpoints join on.

stdlib-only (http.server, ThreadingHTTPServer): no web framework in
the container. This is an operational front door, not a data path —
responses are materialized on the driver exactly as the reference's
QuerySerializer streams result sequences; use ?limit= for big reads.
The Spark session is shared across handler threads (Spark queries are
thread-safe). Commits to one resource are serialized by the store's
per-resource writer lock (an `flock` held from the head read to the
manifest append, store/manifest.py `writer_lock`), matching the
reference's single-writer-per-resource rule (docs/ARCHITECTURE.md
concurrency model): concurrent PUTs queue and each gets its own
revision.
"""

from __future__ import annotations

import json
import re
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from sirix_spark.api import Sirix

# URL path segments name databases/resources, which are DIRECTORIES
# under store.root — an unvalidated '..' segment would let any HTTP
# client list or rmtree arbitrary paths (DELETE /.. would drop the
# parent of the store root). Whitelist, don't blacklist: a segment is
# a plain name — no separators, no leading dot.
_SAFE_SEG = re.compile(r"^[A-Za-z0-9_-][A-Za-z0-9_.-]*$")

# ?query= registers a temp view named after the resource. On a SHARED
# SparkSession two concurrent requests for different revisions of the
# same resource would race on that name (round-2: serialized with
# per-name locks — which also serialized all queries on a resource).
# Instead each request gets spark.newSession(): an isolated temp-view
# catalog over the same SparkContext, so concurrent queries never see
# each other's views and run fully in parallel, lock-free.


def _rows_json(df, limit: int | None) -> str:
    if limit is not None:
        df = df.limit(limit)
    return "[" + ",".join(df.toJSON().collect()) + "]"


def _parse_ts(s: str) -> datetime:
    s = s.replace("Z", "+00:00")
    if len(s) > 6 and s[-6] == " ":
        # '+' in an unencoded tz offset arrives as space after URL decode
        s = s[:-6] + "+" + s[-5:]
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is not None:
        # Convert to UTC wall time (manifest timestamps are naive UTC);
        # merely dropping tzinfo would shift lookups by the offset.
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


class _Handler(BaseHTTPRequestHandler):
    sirix: Sirix  # set by server factory
    token: str | None = None  # bearer token; None = open (test façade)
    # per-database scopes: token → {db: "rw"|"ro"} ("*" = any db).
    # The lightweight analog of the reference's Keycloak role model
    # (SirixVerticle.kt:15-20 keycloak config + PermissionCheckingQuery
    # create/modify/view-per-database roles).
    scopes: dict[str, dict[str, str]] | None = None

    # --- plumbing ---
    def log_message(self, *a):  # quiet test runs
        pass

    def _bearer(self) -> str | None:
        got = self.headers.get("Authorization", "")
        return got[len("Bearer "):] if got.startswith("Bearer ") else None

    def _authorized(self, db: str | None = None, write: bool = False) -> bool:
        """Token check, then per-database scope check when a scope map
        is configured; constant-time token compare."""
        import hmac

        bearer = self._bearer()
        if self.scopes is not None:
            if bearer is None:
                return False
            for tok, grants in self.scopes.items():
                if hmac.compare_digest(bearer, tok):
                    if db is None:  # server-level listings: any token
                        return True
                    mode = grants.get(db, grants.get("*"))
                    return mode == "rw" or (mode == "ro" and not write)
            return False
        if self.token is None:
            return True
        return bearer is not None and hmac.compare_digest(bearer, self.token)

    def _send(self, code: int, payload: str | dict):
        body = (payload if isinstance(payload, str) else json.dumps(payload)).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _route(self):
        u = urlparse(self.path)
        parts = [p for p in u.path.split("/") if p]
        bad = [p for p in parts if not _SAFE_SEG.match(p)]
        if bad:
            raise ValueError(f"invalid path segment {bad[0]!r}")
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        return parts, q

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length", 0))
        return self.rfile.read(n)

    # --- GET ---
    def do_GET(self):
        try:
            parts, q = self._route()
            if not self._authorized(parts[0] if parts else None):
                return self._send(401, {"error": "unauthorized"})
            store = self.sirix.store
            if not parts:
                import os

                dbs = sorted(
                    d for d in os.listdir(store.root)
                    if os.path.isdir(os.path.join(store.root, d))
                )
                return self._send(200, {"databases": dbs})
            if len(parts) == 1:
                (db,) = parts
                if not store.exists_database(db):
                    return self._send(404, {"error": f"database {db} not found"})
                import os

                ress = sorted(
                    r for r in os.listdir(os.path.join(store.root, db))
                    if store.exists_resource(db, r)
                )
                return self._send(200, {"resources": ress})

            db, res = parts[0], parts[1]
            if not store.exists_resource(db, res):
                return self._send(404, {"error": f"{db}/{res} not found"})
            sub = parts[2] if len(parts) > 2 else None
            limit = int(q["limit"]) if "limit" in q else None

            if sub == "history":
                return self._send(200, _rows_json(store.history(db, res), limit))
            if sub == "diff":
                r1 = int(q["first-revision"])
                r2 = int(q["second-revision"])
                return self._send(200, store.diff_json(db, res, r1, r2))
            if sub == "pathSummary":
                # SirixVerticle.kt GET /:db/:res/pathSummary — the
                # path-summary stats table (path, type, count)
                from sirix_spark.operators.navigation import path_summary

                rev = int(q["revision"]) if "revision" in q else None
                df = store.doc(db, res, revision=rev)
                return self._send(200, _rows_json(path_summary(df), limit))
            if sub is not None:
                return self._send(404, {"error": f"unknown endpoint {sub}"})

            if "query" in q:
                rev = int(q["revision"]) if "revision" in q else None
                # Per-request isolated session: rebuild the doc plan on
                # it (a store handle is just paths + a session; the
                # parquet reads are identical) and register the view in
                # ITS catalog — the shared session's views are untouched.
                sess = self.sirix.spark.newSession()
                sess_store = type(store)(
                    sess, store.root, checkpoint_every=store.checkpoint_every
                )
                qstr = q["query"].strip()
                lang = q.get("query-language")
                # The reference's ?query= speaks JSONiq
                # (SirixVerticle.kt ?query= → SirixCompileChain); SQL
                # stays available. Explicit ?query-language=jsoniq|sql
                # wins; otherwise SELECT/WITH prefixes mean SQL.
                is_sql = (
                    lang == "sql"
                    if lang in ("sql", "jsoniq")
                    else qstr.lower().startswith(("select", "with"))
                )
                if is_sql:
                    df = sess_store.doc(db, res, revision=rev)
                    df.createOrReplaceTempView(res)
                    out = sess.sql(qstr)
                else:
                    from sirix_spark.jsoniq import execute as _jq

                    out = _jq(qstr, sess, store=sess_store)
                return self._send(200, _rows_json(out, limit))
            if "start-revision" in q:
                a, b = int(q["start-revision"]), int(q["end-revision"])
                revs = [
                    {"revision": r, "records": json.loads(_rows_json(store.doc(db, res, revision=r), limit))}
                    for r in range(a, b + 1)
                ]
                return self._send(200, json.dumps(revs))
            rev = int(q["revision"]) if "revision" in q else None
            ts = _parse_ts(q["revision-timestamp"]) if "revision-timestamp" in q else None
            df = store.doc(db, res, revision=rev, timestamp=ts)
            return self._send(200, _rows_json(df, limit))
        except Exception as e:  # surface as HTTP error, keep server alive
            self._send(400, {"error": str(e)})

    # --- POST (create) / PUT (upsert new revision) ---
    def _records_df(self):
        raw = self._body().decode()
        data = json.loads(raw) if raw.lstrip().startswith("[") else [
            json.loads(line) for line in raw.splitlines() if line.strip()
        ]
        strs = [json.dumps(r) for r in data]
        rdd = self.sirix.spark.sparkContext.parallelize(strs)
        return self.sirix.spark.read.json(rdd)

    def do_POST(self):
        try:
            parts, q = self._route()
            if len(parts) != 2:
                return self._send(400, {"error": "POST /{db}/{res}"})
            db, res = parts
            if not self._authorized(db, write=True):
                return self._send(401, {"error": "unauthorized"})
            if self.sirix.store.exists_resource(db, res):
                return self._send(409, {"error": f"{db}/{res} exists (PUT to update)"})
            key = q.get("key", "id")
            df = self._records_df()
            # ?author= → commit metadata (GetAuthorName parity);
            # surfaced back via /history
            self.sirix.store_df(
                db, res, df, key=key, message=q.get("message"), author=q.get("author")
            )
            return self._send(201, {"revision": 1})
        except Exception as e:
            self._send(400, {"error": str(e)})

    def do_PUT(self):
        try:
            parts, q = self._route()
            if len(parts) != 2:
                return self._send(400, {"error": "PUT /{db}/{res}"})
            db, res = parts
            if not self._authorized(db, write=True):
                return self._send(401, {"error": "unauthorized"})
            store = self.sirix.store
            if not store.exists_resource(db, res):
                return self._send(404, {"error": f"{db}/{res} not found (POST to create)"})
            key = q.get("key", "id")
            df = self._records_df()
            rev = store.upsert_records(
                db, res, df, key=key, message=q.get("message"), author=q.get("author")
            )
            return self._send(200, {"revision": rev})
        except Exception as e:
            self._send(400, {"error": str(e)})

    def do_DELETE(self):
        try:
            parts, _ = self._route()
            if not self._authorized(parts[0] if parts else None, write=True):
                return self._send(401, {"error": "unauthorized"})
            store = self.sirix.store
            if len(parts) == 2:
                if not store.exists_resource(*parts):
                    return self._send(404, {"error": "not found"})
                store.drop_resource(*parts)
                return self._send(204, "")
            if len(parts) == 1:
                if not store.exists_database(parts[0]):
                    return self._send(404, {"error": "not found"})
                store.drop_database(parts[0])
                return self._send(204, "")
            return self._send(400, {"error": "DELETE /{db}[/{res}]"})
        except Exception as e:
            self._send(400, {"error": str(e)})


class SirixRestServer:
    """Embeddable HTTP server over a Sirix store (SirixVerticle analog)."""

    def __init__(
        self,
        sirix: Sirix,
        host: str = "127.0.0.1",
        port: int = 0,
        token: str | None = None,
        scopes: dict[str, dict[str, str]] | None = None,
    ):
        """`token`: single full-access bearer token. `scopes`: per-
        database role map {token: {db: "rw"|"ro", "*": mode}} — the
        Keycloak-role analog; takes precedence over `token`."""
        handler = type(
            "BoundHandler",
            (_Handler,),
            {"sirix": sirix, "token": token, "scopes": scopes},
        )
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self.host = host
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "SirixRestServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
