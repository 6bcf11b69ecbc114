"""Load generation: a closed loop of clients and an open-loop schedule.

Both run in this (the generator) process, never in the JVM under test.
"""

import http.client
import threading
import time

import mix
import stats


def request(conn, method, path, body):
    headers = {"Content-Type": "application/json"} if body else {}
    conn.request(method, path, body=body, headers=headers)
    resp = conn.getresponse()
    return resp.status, resp.read().decode()


def closed_loop(run, mixes, port, seconds):
    """One client thread a mix, each sending its next request when the last
    returns.

    Stops after `seconds`. Every response is checked; returns one record a
    request.
    """
    out, lock = [], threading.Lock()
    deadline = time.perf_counter() + seconds

    def client(m):
        conn = http.client.HTTPConnection("localhost", port, timeout=120)
        while time.perf_counter() < deadline:
            route, method, path, body, key = m.next()
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                code, text = request(conn, method, path, body)
                err = mix.check(m.view, route, key, text) if code == 200 \
                    else f"HTTP {code}: {text[:200]}"
            except Exception as e:  # a refused or broken request counts as failed
                err = repr(e)
                conn = http.client.HTTPConnection("localhost", port, timeout=120)
            ms = (time.perf_counter() - t0) * 1000
            with lock:
                run.tally(err, f"{route} {path}")
                out.append({"route": route, "ms": ms, "ok": err is None,
                            "start": w0 * 1000, "end": w0 * 1000 + ms})
        conn.close()

    threads = [threading.Thread(target=client, args=(m,)) for m in mixes]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def route_stats(done):
    out = {}
    for r in mix.ROUTES:
        ms = [d["ms"] for d in done if d["route"] == r and d["ok"]]
        out[r] = {"count": len(ms), "p50_ms": stats.median(ms)}
    return out


class OpenLoop:
    """Calls `action` at a fixed rate, on schedule whatever the system does.

    Each call is timed from when it was due; `late_ms` records how far
    behind schedule the generator itself started each call.
    """

    def __init__(self, rate, action):
        self.rate, self.action = rate, action
        self.due, self.late_ms, self.done = [], [], []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop)

    def _loop(self):
        start = time.time()
        i = 0
        while not self._stop.is_set():
            due = start + i / self.rate
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                break
            self.late_ms.append(max(0.0, (time.time() - due) * 1000))
            self.due.append(due)
            self.done.append(self.action())
            i += 1

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()

    def lateness(self):
        return {"late_p50_ms": stats.median(self.late_ms),
                "late_max_ms": max(self.late_ms) if self.late_ms else None,
                "calls": len(self.late_ms)}
