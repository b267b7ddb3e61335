"""notebook_gateway: a closed loop of notebook clients over real HTTP.

Each client thread repeats the notebook script (``notebook_script``) against
the gateway process: it submits a statement, drains its result pages, polls
the operation status after EOS, and only then submits the next statement.
Streaming cells are fetched until the changelog the client has materialised
equals the batch answer, then cancelled.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import urllib.error
import urllib.request

import notebook_script
from common import Tracer

STREAM_TIMEOUT_S = 90.0
POLL_S = 0.02


class HttpError(Exception):
    pass


class Client:
    """One notebook user: its own session per pass, its own seeded script."""

    def __init__(self, idx: int, base: str, seed: int, sf_dir: str,
                 stage_dir: str, work: str, tracer: Tracer, oracle):
        self.idx, self.base = idx, base
        self.rng = random.Random(seed * 1009 + idx)
        self.sf_dir, self.stage_dir, self.work = sf_dir, stage_dir, work
        self.tracer, self.oracle = tracer, oracle
        self.cells: list[dict] = []  # one record per executed statement
        self.passes: list[tuple[float, float]] = []  # (start, end)
        self.requests: list[tuple[str, float]] = []  # (kind, seconds)
        self.errors: list[str] = []

    # ---- HTTP ----------------------------------------------------------------
    def _call(self, method: str, path: str, body: dict | None = None,
              kind: str = "other") -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.base + path, data=data, method=method,
            headers={"Content-Type": "application/json"},
        )
        t = time.time()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                payload = json.loads(resp.read() or b"{}")
        except urllib.error.HTTPError as e:
            raise HttpError(f"HTTP {e.code} on {method} {kind}: {e.read()[:200]!r}") from e
        finally:
            self.requests.append((kind, time.time() - t))
        return payload

    # ---- one statement -------------------------------------------------------
    def _run_cell(self, h: str, cell: notebook_script.Cell, pass_no: int) -> dict:
        rec = {"kind": cell.kind, "pass": pass_no, "client": self.idx,
               "streaming": cell.streaming, "ok": False, "cause": None,
               "pages": 0, "rows": 0, "not_ready": 0, "fetches": 0}
        # the streaming cell's expected state is known before it is submitted
        expected = self.oracle.expected(cell) if cell.streaming else None
        with self.tracer.span("client.statement", kind=cell.kind, client=self.idx) as sp:
            rec["t0"] = time.time()
            try:
                op = self._call("POST", f"/v1/sessions/{h}/statements",
                                {"statement": cell.sql}, "execute")["operationHandle"]
                if sp is not None:
                    sp["stmt"] = op
                if cell.streaming:
                    self._drain_stream(h, op, cell, expected, rec)
                else:
                    rows = self._drain(h, op, rec)
                    st = self._call("GET", f"/v1/sessions/{h}/operations/{op}/status",
                                    kind="status")["status"]
                    if st == "ERROR":
                        raise RuntimeError("operation status ERROR after EOS")
                    # checked after the loop, so the check is not timed
                    rec["ok"], rec["cell"], rec["result"] = True, cell, rows
            except Exception as e:  # noqa: BLE001 — every failure is counted
                rec["cause"] = f"{type(e).__name__}: {str(e)[:300]}"
                rec.setdefault("t_done", time.time())
        return rec

    def _drain(self, h: str, op: str, rec: dict) -> list:
        token, rows = 0, []
        while True:
            page = self._call("GET", f"/v1/sessions/{h}/operations/{op}/result/{token}",
                              kind="fetch")
            rec["fetches"] += 1
            kind = page["resultType"]
            if kind == "PAYLOAD":
                rec.setdefault("t_first", time.time())
                rec["columns"] = [c["name"] for c in page["results"]["columns"]]
                data = page["results"]["data"]
                rows.extend(r["fields"] for r in data)
                rec["pages"] += 1
                rec["rows"] += len(data)
                token = int(page["nextResultUri"].rsplit("/", 1)[1])
            elif kind == "EOS":
                rec["t_done"] = time.time()
                rec.setdefault("t_first", rec["t_done"])
                return rows
            else:
                rec["not_ready"] += 1
                time.sleep(POLL_S)

    def _drain_stream(self, h: str, op: str, cell, expected: list, rec: dict) -> None:
        state: dict[tuple, list] = {}
        token, deadline = 0, time.time() + STREAM_TIMEOUT_S
        done_ok = False
        while time.time() < deadline:
            page = self._call("GET", f"/v1/sessions/{h}/operations/{op}/result/{token}",
                              kind="fetch")
            rec["fetches"] += 1
            kind = page["resultType"]
            if kind == "PAYLOAD":
                rec.setdefault("t_first", time.time())
                for r in page["results"]["data"]:
                    key = tuple(r["fields"][i] for i in cell.key_cols)
                    if r["kind"] in ("INSERT", "UPDATE_AFTER"):
                        state[key] = r["fields"]
                    elif r["kind"] in ("UPDATE_BEFORE", "DELETE"):
                        if state.get(key) != r["fields"]:
                            raise RuntimeError(
                                f"{r['kind']} {r['fields']} does not match the "
                                f"last row emitted for its key: {state.get(key)}"
                            )
                        del state[key]
                    rec["rows"] += 1
                rec["pages"] += 1
                token = int(page["nextResultUri"].rsplit("/", 1)[1])
                if sorted(state.values()) == expected:
                    rec["t_result"] = time.time()
                    done_ok = True
                    break
            elif kind == "EOS":
                break
            else:
                rec["not_ready"] += 1
                time.sleep(POLL_S)
        self._call("DELETE", f"/v1/sessions/{h}/operations/{op}", kind="cancel")
        rec["t_done"] = time.time()
        st = self._call("GET", f"/v1/sessions/{h}/operations/{op}/status", kind="status")
        if st["status"] == "ERROR":
            raise RuntimeError("operation status ERROR")
        if not done_ok:
            raise RuntimeError(
                f"changelog never reached the batch answer ({len(state)} keys)"
            )
        rec["ok"] = True

    # ---- passes --------------------------------------------------------------
    def run(self, deadline: float) -> None:
        n = 0
        while n == 0 or time.time() < deadline:
            t0 = time.time()
            sink = os.path.join(self.work, f"sink-c{self.idx}-p{n}")
            try:
                with self.tracer.span("client.session_open", client=self.idx):
                    h = self._call("POST", "/v1/sessions", {"properties": {}},
                                   "session")["sessionHandle"]
            except Exception as e:  # noqa: BLE001
                self.errors.append(f"open session: {e}")
                return
            for cell in notebook_script.build_script(
                self.rng, self.sf_dir, self.stage_dir, sink
            ):
                self.cells.append(self._run_cell(h, cell, n))
            try:
                with self.tracer.span("client.session_close", client=self.idx):
                    self._call("DELETE", f"/v1/sessions/{h}", kind="session")
            except Exception as e:  # noqa: BLE001
                self.errors.append(f"close session: {e}")
            self.passes.append((t0, time.time()))
            n += 1

    def check(self) -> None:
        """Compare every batch result with its oracle, after the loop."""
        for rec in self.cells:
            cell, rows = rec.pop("cell", None), rec.pop("result", None)
            if cell is not None:
                try:
                    rec["cause"] = self.oracle.check(cell, rec.get("columns", []), rows)
                except Exception as e:  # noqa: BLE001 — a failed check is a failure
                    rec["cause"] = f"check raised {type(e).__name__}: {str(e)[:200]}"
                rec["ok"] = rec["cause"] is None


class Oracle:
    """Expected rows from DuckDB over the same parquet files."""

    def __init__(self, sf_dir: str):
        from flink_notebooks_spark.testing import duck_con

        self.con = duck_con(sf_dir)
        self._lock = threading.Lock()

    def answer(self, sql: str):
        with self._lock:  # one DuckDB connection, shared by the clients
            return self.con.sql(sql).df()

    def expected(self, cell) -> list:
        df = self.answer(cell.oracle)
        return sorted(df.astype(object).values.tolist())

    def check(self, cell, columns: list[str], rows: list) -> str | None:
        import pandas as pd

        from flink_notebooks_spark.testing import compare

        if cell.expect_rows is not None and len(rows) < cell.expect_rows:
            return f"{len(rows)} rows, expected at least {cell.expect_rows}"
        if cell.readback_of is not None:
            want = int(self.answer(cell.readback_of).iloc[0, 0])
            got = int(rows[0][0]) if rows else -1
            return None if got == want else f"read back {got} rows, wrote {want}"
        if cell.oracle is None:
            return None if rows else "no rows"
        want = self.answer(cell.oracle)
        for c in want.columns:
            if pd.api.types.is_datetime64_any_dtype(want[c]):
                want[c] = want[c].astype(str)
        got = pd.DataFrame(rows, columns=columns)
        problems = compare(got, want)
        return "; ".join(problems)[:300] if problems else None
