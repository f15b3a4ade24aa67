"""Seeded inputs and the open-loop load generator.

The generator is one process with four worker threads, each holding one
keep-alive connection: three send `PutRecords` calls to the shard
service, one reads the serve edge. Every operation is timed from the
moment it was due, so a stall in the system also delays, and is charged
to, the operations queued behind it.
"""
import base64
import http.client
import json
import random
import threading
import time

USERS = 40
EVENTS_PER_SECOND = 100  # per user; the reference sends 60-125
PROBE_USERS = 2
# The dashboard follows the reference client (functions.js): a page open
# loads the user's series once (`reverse=true`, loadUserData), then polls
# the chart every GRAPH_INTERVAL = 2 s (updateGraph); the heatmap is read
# when its modal opens. A view lasts while the chart's 10-point window
# turns over once at that poll (10 x 2 s) and opens the heatmap once: per
# view 1 initial load, 9 polls and 1 heatmap, 0.55 GET/s. There is one
# viewer: the serial edge holds about 2.3 GET/s, and a second viewer
# plus the probe overloaded it (perfbench/README.md).
POLL_S = 2.0
VIEW_S = 20.0
# Each probe user is read every PROBE_S (the reference's own poll
# cadence), so the probe offers 1 GET/s whatever the edge's speed.
PROBE_S = 2.0
BACKLOG_EPOCH_MS = 1_704_067_200_000  # 2024-01-01, the replay's past


def user_ids(seed):
    rng = random.Random(f"users-{seed}")
    ids = set()
    while len(ids) < USERS:
        ids.add(f"u{rng.getrandbits(32):08x}")
    return sorted(ids)


def events_for(rng, uid, lo_ms, hi_ms, pos):
    """One user's events with creation stamps in (lo_ms, hi_ms]: about
    EVENTS_PER_SECOND per second, coordinates a seeded random walk."""
    rate = rng.randint(EVENTS_PER_SECOND - 10, EVENTS_PER_SECOND + 10)
    n = max(1, round((hi_ms - lo_ms) / 1000 * rate))
    stamps = sorted(rng.randint(lo_ms + 1, hi_ms) for _ in range(n))
    out = []
    x, y = pos
    for t in stamps:
        x = min(1919, max(0, x + rng.randint(-15, 15)))
        y = min(1079, max(0, y + rng.randint(-15, 15)))
        out.append({"user_id": uid, "x": x, "y": y, "time": t})
    pos[:] = [x, y]
    return out


def put_body(events):
    lines = []
    for e in events:
        data = json.dumps(e, separators=(",", ":")).encode()
        lines.append('{"partitionKey":"%s","data":"%s"}'
                     % (e["user_id"], base64.b64encode(data).decode()))
    return ("\n".join(lines) + "\n").encode()


class Conn:
    """One keep-alive HTTP connection, reopened after an error."""

    def __init__(self, port):
        self.port = port
        self.c = None

    def request(self, method, path, body=None, headers=None):
        if self.c is None:
            self.c = http.client.HTTPConnection("localhost", self.port, timeout=60)
        try:
            self.c.request(method, path, body=body, headers=headers or {})
            r = self.c.getresponse()
            return r.status, r.read()
        except Exception:
            self.c.close()
            self.c = None
            raise

    def close(self):
        if self.c is not None:
            self.c.close()


def prefill(port, seed, seconds, threads=4):
    """The replay backlog: `seconds` of every user's events, in the past,
    sent as 500-record calls. Each thread owns a quarter of the users and
    sends their events in time order. Returns the acknowledged truth
    {user|sec: count}."""
    uids = user_ids(seed)
    truth, lock, errors = {}, threading.Lock(), []

    def run(mine):
        conn = Conn(port)
        rngs = {u: random.Random(f"backlog-{seed}-{u}") for u in mine}
        pos = {u: [rngs[u].randint(0, 1919), rngs[u].randint(0, 1079)] for u in mine}
        try:
            for s in range(seconds):
                lo = BACKLOG_EPOCH_MS + s * 1000
                evs = [e for u in mine
                       for e in events_for(rngs[u], u, lo - 1, lo + 999, pos[u])]
                for i in range(0, len(evs), 500):
                    chunk = evs[i:i + 500]
                    key = f"backlog-{seed}-{chunk[0]['user_id']}-{s}-{i}"
                    status, body = conn.request("POST", "/records", put_body(chunk),
                                                {"X-Idempotency-Key": key})
                    if status != 200:
                        raise RuntimeError(f"prefill put HTTP {status}: {body[:200]}")
                    with lock:
                        for e in chunk:
                            k = f"{e['user_id']}|{e['time'] // 1000}"
                            truth[k] = truth.get(k, 0) + 1
        except Exception as e:  # surfaced by the caller
            errors.append(e)
        finally:
            conn.close()

    ts = [threading.Thread(target=run, args=(uids[i::threads],), daemon=True)
          for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise errors[0]
    return truth


class LiveLoad:
    """The live_steady traffic: USERS users each sending one PutRecords
    per second, a dashboard viewer (0.55 GET/s) and a freshness probe
    (1 GET/s), all on fixed due times.

    User phases sit on USERS evenly spaced slots of the second; the seed
    decides which user gets which slot, the user ids, event counts,
    coordinates and timing jitter. The probe users hold the slots 0 and
    1/2, so every seed probes the same phases.
    """

    def __init__(self, seed, seconds, shard_port, edge_port, spans):
        self.seed, self.seconds, self.spans = seed, seconds, spans
        self.shard_port, self.edge_port = shard_port, edge_port
        rng = random.Random(f"live-{seed}")
        self.uids = user_ids(seed)
        slots = list(range(USERS))
        rng.shuffle(slots)
        self.phase = {u: slots[i] / USERS + rng.uniform(0, 0.004)
                      for i, u in enumerate(self.uids)}
        step = USERS // PROBE_USERS
        self.probes = [u for u in self.uids if slots[self.uids.index(u)] % step == 0]
        self.lock = threading.Lock()
        self.truth = {}       # user|sec -> acknowledged events
        self.last_stamp = {}  # user|sec -> newest acknowledged creation stamp (ms)
        self.puts = []        # (due, start, end, records, ok)
        self.gets = []        # (shape, due, start, end, status, rows, bytes)
        self.fresh = []       # (end, user, [(sec, count)])
        self.failed = 0
        self.stop_reads = threading.Event()

    # ---- puts ----------------------------------------------------------
    def _put_worker(self, users, t0):
        conn = Conn(self.shard_port)
        rngs = {u: random.Random(f"live-{self.seed}-{u}") for u in users}
        pos = {u: [rngs[u].randint(0, 1919), rngs[u].randint(0, 1079)] for u in users}
        plan = sorted((t0 + self.phase[u] + k, u, k)
                      for u in users for k in range(1, self.seconds + 1))
        try:
            for due, u, k in plan:
                # the call is built ahead, so it leaves the moment it is due
                evs = events_for(rngs[u], u, int((due - 1) * 1000), int(due * 1000), pos[u])
                body = put_body(evs)
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                start = time.time()
                ok = False
                for attempt in range(4):
                    try:
                        status, _ = conn.request("POST", "/records", body,
                                                 {"X-Idempotency-Key": f"{self.seed}-{u}-{k}"})
                        ok = status == 200
                    except Exception:
                        ok = False
                    if ok:
                        break
                    with self.lock:
                        self.failed += 1
                    time.sleep(0.2)
                end = time.time()
                with self.lock:
                    self.puts.append((due, start, end, len(evs), ok))
                    if ok:
                        for e in evs:
                            key = f"{u}|{e['time'] // 1000}"
                            self.truth[key] = self.truth.get(key, 0) + 1
                            self.last_stamp[key] = max(self.last_stamp.get(key, 0), e["time"])
                self.spans.add(f"put:{u}:{k}", "", "put", "sources", start, end)
        finally:
            conn.close()

    # ---- reads -----------------------------------------------------------
    def _get(self, conn, shape, path, due):
        start = time.time()
        try:
            status, body = conn.request("GET", path)
        except Exception:
            status, body = 599, b""
        end = time.time()
        rows = []
        if status == 200:
            try:
                rows = json.loads(body)
            except ValueError:
                status = 598
        with self.lock:
            self.gets.append((shape, due, start, end, status, len(rows), len(body)))
            if status != 200:
                self.failed += 1
        self.spans.add(f"get:{shape}:{len(self.gets)}", "", shape, "serve", start, end)
        return rows, end

    def dashboard_plan(self, t0, end_at):
        """[(due, shape, user)] of the dashboard GETs due before end_at:
        the viewer's views, one after another, each of a seeded user."""
        rng = random.Random(f"dash-{self.seed}")
        plan = []
        opened = t0 + 0.25
        while opened < end_at:
            u = rng.choice(self.uids)
            plan.append((opened, "initial", u))
            plan += [(opened + POLL_S * k, "poll", u)
                     for k in range(1, int(VIEW_S / POLL_S))]
            plan.append((opened + rng.uniform(0, VIEW_S), "heatmap", u))
            opened += VIEW_S
        return sorted(p for p in plan if p[0] < end_at)

    def _reader(self, t0, end_at):
        """The edge serves one request at a time, so one connection
        carries all reads, in due order: the dashboard GETs until end_at,
        and the freshness probe, each probe user every PROBE_S with a
        seeded jitter, until told to stop. Both are open loop: a GET
        that waits behind another is timed from its due time."""
        rng = random.Random(f"probe-{self.seed}")
        conn = Conn(self.edge_port)
        token = {}
        dash = self.dashboard_plan(t0, end_at)
        probe_due = [t0 + 0.75 + i * PROBE_S / len(self.probes)
                     for i in range(len(self.probes))]
        try:
            while True:
                i = min(range(len(self.probes)), key=probe_due.__getitem__)
                if dash and dash[0][0] <= probe_due[i]:
                    due, shape, u = dash.pop(0)
                else:
                    due, shape, u = probe_due[i], "fresh", self.probes[i]
                    probe_due[i] += PROBE_S + rng.uniform(-0.2, 0.2)
                if self.stop_reads.wait(max(0.0, due - time.time())):
                    break
                now = int(time.time())
                path = {"poll": f"/users/{u}/movements/{token.get(u, int(t0) - 1)}",
                        "initial": f"/users/{u}/movements/{now}?reverse=true",
                        "heatmap": f"/users/{u}/movements/{now}"
                                   "?reverse=true&count=false&limit=10",
                        "fresh": f"/users/{u}/movements/{now + 1}?reverse=true&limit=10",
                        }[shape]
                rows, end = self._get(conn, shape, path, due)
                if shape in ("initial", "poll") and rows:
                    # the newest second seen starts the next poll
                    token[u] = max(r["timestamp"] for r in rows)
                elif shape == "fresh":
                    with self.lock:
                        self.fresh.append((end, u, [(r["timestamp"], r["count"])
                                                    for r in rows]))
        finally:
            conn.close()

    def run(self):
        """Send for `seconds`, then wait for every in-flight put; reads
        go on until `finish_fresh`. Returns the time of the first due put."""
        t0 = float(int(time.time()) + 1)
        ordered = sorted(self.uids, key=self.phase.get)
        workers = [threading.Thread(target=self._put_worker, args=(ordered[i::3], t0),
                                    daemon=True) for i in range(3)]
        self.reader = threading.Thread(target=self._reader, args=(t0, t0 + self.seconds),
                                       daemon=True)
        for t in workers + [self.reader]:
            t.start()
        for t in workers:
            t.join()
        return t0

    def probe_windows(self):
        return {k for k in self.truth if k.split("|")[0] in self.probes}

    def finish_fresh(self, timeout):
        """Keep probing until every probe window has been served at its
        acknowledged count, or `timeout` seconds pass."""
        deadline = time.time() + timeout
        while time.time() < deadline and self.unseen():
            time.sleep(0.1)
        self.stop_reads.set()
        self.reader.join()

    def first_seen(self):
        """First time each probe window was served at its full count."""
        seen = {}
        with self.lock:
            fresh = sorted(self.fresh)
        for end, u, rows in fresh:
            for sec, cnt in rows:
                key = f"{u}|{sec}"
                if key not in seen and self.truth.get(key) == cnt:
                    seen[key] = end
        return seen

    def unseen(self):
        with self.lock:
            want = self.probe_windows()
        return want - set(self.first_seen())
