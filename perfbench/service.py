"""``registry_ingest`` workload: the Tag Registry's interactive calls,
then the blob-ingest loop, served by one session.

* Registry: closed loop, two client threads. Each client owns two of
  the four registers (the API's single-writer contract), seeded at
  the register sizes of the sf0.1 test set, and runs a fixed sequence
  (the seed picks keys and values) of reads (``get_data`` with and without
  search, ``get_data_after``, ``find_tag``) and writes
  (``upsert_tags``, ``apply_approvals``, ``delete_tags``). Every call
  is replayed on an in-Python model while the sequence is planned, so
  each page, each returned count and each register's final state has
  an exact expected value.
* Blob ingest: open loop. A generator thread lands seeded blob files
  on a fixed schedule (pid, standard and unsupported routes; a fixed
  share carry the ``.corrupt`` failure marker); a poller thread runs
  ``start_blob_ingest(...).awaitTermination()`` passes back to back
  and reads back ``routed_files`` after each pass, so every file's
  latency runs from its due time to the end of the pass that
  committed it. Afterwards it drains until ``retry_pending`` is empty
  and checks exactly-once delivery.
"""

from __future__ import annotations

import os
import random
import threading
import time

from .common import dir_bytes, now

CLIENTS = 2
OWNER = {"Equipment": 0, "Line": 0, "Instrument": 1, "Cable": 1}
PREFIX = {"Equipment": "EQ", "Instrument": "IN", "Line": "LN", "Cable": "CB"}
PRIORITY = ("Equipment", "Instrument", "Line", "Cable")
# One block of calls per client, nominally 12 s of work: 5 get_data,
# 5 keyset get_data_after, one get_data_search and one find_tag, 2
# upsert_tags, one apply_approvals and one delete_tags, in this order
# (client 1 starts half a block in). A read that overlaps the other
# client's register rewrite takes about twice as long as one that does
# not, so the order of calls decides how many reads overlap a write. A
# fixed order keeps that count the same for every seed; the seed picks
# keys, pages, search terms, row contents and upsert sizes.
OP_BLOCK = (
    "get_data", "get_data_after", "upsert_tags", "get_data", "get_data_after", "find_tag",
    "get_data", "get_data_after", "apply_approvals", "get_data", "get_data_after",
    "get_data_search", "get_data", "get_data_after", "upsert_tags", "delete_tags",
)
UPSERT_ROWS = (1, 100)  # size drawn per upsert; half of each upsert updates existing tags
APPROVAL_SHAPE = (("old", "Edit"),) * 4 + (("old", "Add"), ("new", "Add"), ("new", "Add"), ("new", "Edit"))
DELETE_ROWS = 3  # plus one tag that does not exist
BLOCK_SECONDS = 12.0
READS = {"get_data", "get_data_search", "get_data_after", "find_tag"}
PAGE = 10
MISSING_TAG = "ZZ-99999"

# Register sizes of the sf0.1 test set: Equipment from ``part``,
# Instrument from ``customer``, Line from a 30th of ``orders``, Cable from
# ``supplier``. Every write rewrites its whole register, so the size sets
# the write cost. ``tiny`` is the smoke-test scale.
REGISTER_ROWS = {"Equipment": 20000, "Instrument": 15000, "Line": 5000, "Cable": 1000}
REGISTER_SCALE = {"tiny": 0.01, "small": 1.0}

# Blobs per second, landing over the first half of --seconds: well below
# what one ingest pass clears on a busy 4-core host, so blob latency
# stays clear of saturation (where it jumps from run to run).
BLOB_RATE = 4.0
CORRUPT_SHARE = 0.05
ROUTE_SHARE = (("pid", 0.4), ("standard", 0.4), ("unsupported", 0.2))
MAX_DRAIN_PASSES = 12
POLL_GRACE_S = 90.0  # give up when good blobs are still missing this long after the last landing


# --- registry model --------------------------------------------------------


def merge_docs(a: str | None, b: str | None) -> str:
    parts = [p for p in (a or "").split(";") + (b or "").split(";") if p.strip()]
    return ";".join(sorted(set(parts)))


class RegisterModel:
    """Rows keyed by tag_no; ``seq`` orders writes the way the
    engine's ``modified_date`` does (each write stamps one
    ``current_timestamp``; the seed load is write 0)."""

    def __init__(self, rows: dict[str, dict]):
        self.rows = rows
        self.seq = 0

    def page(self, page: int, size: int, search: str | None):
        rows = [t for t in self.rows if not search or search.lower() in t.lower()]
        rows.sort(key=lambda t: (self.rows[t]["seq"], t), reverse=True)
        start = (page - 1) * size
        return rows[start:start + size], len(rows)

    def after(self, size: int, cursor: tuple | None):
        rows = [t for t in self.rows if cursor is None or (self.rows[t]["seq"], t) < cursor]
        rows.sort(key=lambda t: (self.rows[t]["seq"], t), reverse=True)
        return rows[:size]

    def upsert(self, incoming: list[tuple]):
        self.seq += 1
        for tag, desc, doc, by in incoming:
            old = self.rows.get(tag)
            self.rows[tag] = {
                "description": desc,
                "document": merge_docs(old["document"], doc) if old else doc,
                "modified_by": by,
                "seq": self.seq,
            }

    def approve(self, history: list[tuple]):
        self.seq += 1
        first = {}
        for tag, desc, action, status in sorted(history, key=lambda h: (h[0], h[1], h[2])):
            if status == "PENDING" and tag not in first:
                first[tag] = (desc, action)
        for tag, (desc, action) in first.items():
            if tag in self.rows and action == "Edit":
                self.rows[tag].update(description=desc, modified_by="approval", seq=self.seq)
            elif tag not in self.rows and action == "Add":
                self.rows[tag] = {"description": desc, "document": "",
                                  "modified_by": "approval", "seq": self.seq}

    def delete(self, tags: list[str]) -> int:
        return sum(self.rows.pop(t, None) is not None for t in tags)

    def state(self) -> set[tuple]:
        return {(t, r["description"], r["document"], r["modified_by"]) for t, r in self.rows.items()}


def seed_rows(seed: int, scale: str) -> dict[str, list[tuple]]:
    """Initial register contents, drawn from ``seed`` (independently of
    the engine)."""
    from .datagen import P_ADJ, P_NOUN

    rng = random.Random(seed * 31 + 7)
    rows = {}
    for reg, n in REGISTER_ROWS.items():
        n = max(100, round(n * REGISTER_SCALE[scale]))
        rows[reg] = [(f"{PREFIX[reg]}-{k:05d}", f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}",
                      f"DWG-{rng.randint(0, 999):03d}", "seed") for k in range(n)]
    return rows


def _stable(tag: str) -> bool:
    """Tags no write ever touches: ``find_tag`` targets, so a read of
    another client's register has one right answer."""
    return int(tag.split("-")[1]) % 10 == 0


def plan(seed: int, seconds: float, seeds: dict[str, list[tuple]]):
    """Per-client op lists with expected results, and the expected
    final state of every register."""
    models = {reg: RegisterModel({t: {"description": d, "document": doc, "modified_by": by, "seq": 0}
                                  for t, d, doc, by in rows}) for reg, rows in seeds.items()}
    stable = sorted(t for rows in seeds.values() for t, *_ in rows if _stable(t))
    blocks = max(1, round(seconds / BLOCK_SECONDS))
    plans = []
    for client in range(CLIENTS):
        rng = random.Random(seed * 1000 + client)
        regs = [r for r, c in OWNER.items() if c == client]
        # each kind alternates over the client's registers
        half = len(OP_BLOCK) // 2 * client
        seen: dict[str, int] = {}
        calls = []
        for kind in (OP_BLOCK[half:] + OP_BLOCK[:half]) * blocks:
            seen[kind] = seen.get(kind, -1) + 1
            calls.append((kind, regs[seen[kind] % len(regs)]))
        cursors: dict[str, tuple | None] = {}
        new_key = 90000 + client * 5000
        ops = []
        for kind, reg in calls:
            m = models[reg]
            mutable = sorted(t for t in m.rows if not _stable(t))
            op = {"kind": kind, "register": reg}
            if kind in ("get_data", "get_data_search"):
                search = f"{rng.randint(0, 99):02d}" if kind == "get_data_search" else None
                page = rng.randint(1, 2 if search else 5)
                tags, total = m.page(page, PAGE, search)
                op.update(page=page, search=search, expect=tags, total=total)
                cursors[reg] = (m.rows[tags[-1]]["seq"], tags[-1]) if tags else None
            elif kind == "get_data_after":
                tags = m.after(PAGE, cursors.get(reg))
                op.update(expect=tags)
                cursors[reg] = (m.rows[tags[-1]]["seq"], tags[-1]) if tags else None
            elif kind == "find_tag":
                tag = rng.choice(stable) if rng.random() < 0.8 else MISSING_TAG
                hit = next(((r, models[r].rows[tag]["description"]) for r in PRIORITY
                            if tag in models[r].rows), None)
                op.update(tag=tag, expect=hit)
            elif kind == "upsert_tags":
                n = rng.randint(*UPSERT_ROWS)
                rows = []
                for tag in rng.sample(mutable, min(len(mutable), n // 2)):
                    rows.append((tag, f"updated {rng.randint(0, 999)}", f"DWG-{rng.randint(0, 999):03d}",
                                 f"client{client}"))
                while len(rows) < n:
                    new_key += 1
                    rows.append((f"{PREFIX[reg]}-{new_key:05d}", f"new {rng.randint(0, 999)}",
                                 f"DWG-{rng.randint(0, 999):03d}", f"client{client}"))
                m.upsert(rows)
                op.update(rows=rows)
            elif kind == "apply_approvals":
                hist = []
                old = rng.sample(mutable, sum(1 for age, _ in APPROVAL_SHAPE if age == "old"))
                for j, (age, action) in enumerate(APPROVAL_SHAPE):
                    if age == "old":
                        tag = old.pop()
                    else:
                        new_key += 1
                        tag = f"{PREFIX[reg]}-{new_key:05d}"
                    # the last row was already approved (ignored); the first is resubmitted
                    status = "APPROVED" if j == len(APPROVAL_SHAPE) - 1 else "PENDING"
                    hist.append((tag, f"approved {rng.randint(0, 999)}", action, status))
                hist.append((hist[0][0], f"approved {rng.randint(0, 999)}", hist[0][2], "PENDING"))
                m.approve(hist)
                op.update(history=hist)
            else:  # delete_tags
                tags = rng.sample(mutable, min(len(mutable), DELETE_ROWS)) + [f"{PREFIX[reg]}-99999"]
                op.update(tags=tags, expect=m.delete(tags))
            ops.append(op)
        plans.append(ops)
    return plans, {reg: m.state() for reg, m in models.items()}


# --- registry calls --------------------------------------------------------

ROW_SCHEMA = "tag_no string, description string, document string, modified_by string"
HIST_SCHEMA = "tag_no string, description string, action string, approval_status string"


def _payload_bytes(op) -> int:
    rows = op.get("rows") or op.get("history") or [(t,) for t in op.get("tags", ())]
    return sum(len(str(v).encode()) for row in rows for v in row)


def _register_bytes(root: str, reg: str) -> int:
    return dir_bytes(os.path.join(root, reg.lower()))


def run_op(ctx, registry, op, last_rows: dict, traced: bool) -> dict:
    """One API call (reads include collecting the result). Returns the
    observation the checker compares with ``op['expect']``."""
    spark, reg, kind = ctx.spark, op["register"], op["kind"]
    before = _register_bytes(registry.root, reg) if kind not in READS else 0
    with ctx.tracer.span(f"api.{kind}", "api", traced) as s:
        if kind in ("get_data", "get_data_search"):
            got = registry.get_data(reg, page=op["page"], page_size=PAGE, search=op["search"]).collect()
        elif kind == "get_data_after":
            prev = last_rows.get(reg)
            after = (prev.modified_date, prev.tag_no) if prev is not None else None
            got = registry.get_data_after(reg, PAGE, after=after).collect()
        elif kind == "find_tag":
            got = registry.find_tag(op["tag"]).collect()
        elif kind == "upsert_tags":
            got = registry.upsert_tags(reg, spark.createDataFrame(op["rows"], ROW_SCHEMA))
        elif kind == "apply_approvals":
            got = registry.apply_approvals(reg, spark.createDataFrame(op["history"], HIST_SCHEMA))
        else:
            got = registry.delete_tags(reg, op["tags"])
    obs = {"kind": kind, "latency": s["dur"], "jobs": s.get("jobs"), "traced": traced and ctx.tracer.enabled}
    if kind in ("get_data", "get_data_search", "get_data_after"):
        obs["tags"] = [r.tag_no for r in got]
        obs["total"] = {r.totalCount for r in got} if kind != "get_data_after" else None
        obs["cols"] = len(got[0]) if got else None
        last_rows[reg] = got[-1] if got else None
    elif kind == "find_tag":
        obs["hit"] = (got[0].tag_type, got[0].description) if got else None
        obs["n"] = len(got)
    elif kind == "delete_tags":
        obs["removed"] = got
    if kind not in READS:
        obs["written"] = _register_bytes(registry.root, reg) - before
        obs["payload"] = _payload_bytes(op)
    return obs


def check_op(op, obs) -> str | None:
    kind = op["kind"]
    if kind in ("get_data", "get_data_search"):
        want_total = {op["total"]} if op["expect"] else set()
        if obs["tags"] != op["expect"] or obs["total"] != want_total or (
            obs["tags"] and obs["cols"] != 6
        ):
            return f"{kind}({op['register']}, page={op['page']}, search={op['search']}): " \
                   f"got {obs['tags'][:3]}.. total={obs['total']} want {op['expect'][:3]}.. total={op['total']}"
    elif kind == "get_data_after":
        if obs["tags"] != op["expect"]:
            return f"get_data_after({op['register']}): got {obs['tags'][:3]}.. want {op['expect'][:3]}.."
    elif kind == "find_tag":
        if obs["hit"] != op["expect"] or obs["n"] > 1:
            return f"find_tag({op['tag']}): got {obs['hit']} want {op['expect']}"
    elif kind == "delete_tags" and obs["removed"] != op["expect"]:
        return f"delete_tags({op['register']}): removed {obs['removed']} want {op['expect']}"
    return None


WARM_REGISTER = "Warmup"


def _warm_reads(ctx, registry, regs) -> None:
    """One read of each kind on freshly seeded registers (reads leave
    the state unchanged)."""
    last_rows: dict = {}
    for reg in regs:
        for op in ({"kind": "get_data", "register": reg, "page": 2, "search": None},
                   {"kind": "get_data_search", "register": reg, "page": 1, "search": "12"},
                   {"kind": "get_data_after", "register": reg},
                   {"kind": "find_tag", "register": reg, "tag": MISSING_TAG}):
            run_op(ctx, registry, op, last_rows, traced=False)


def _warm_writes(ctx, registry) -> None:
    """One write of each kind on a register outside the four the
    clients use (``find_tag`` never reads it)."""
    rows = [(f"WU-{k:05d}", "warm", "DWG-000", "warm") for k in range(40)]
    registry.upsert_tags(WARM_REGISTER, ctx.spark.createDataFrame(rows, ROW_SCHEMA))
    registry.upsert_tags(WARM_REGISTER, ctx.spark.createDataFrame(rows[:3], ROW_SCHEMA))
    hist = [("WU-00001", "ok", "Edit", "PENDING"), ("WU-99999", "ok", "Add", "PENDING")]
    registry.apply_approvals(WARM_REGISTER, ctx.spark.createDataFrame(hist, HIST_SCHEMA))
    registry.delete_tags(WARM_REGISTER, ["WU-00002"])


def warm_up_tasks(ctx, registry, seeds) -> dict:
    """Set-up of the workload, to run on parallel threads: the first
    ingest pass; per client, the seed load of its own registers through
    ``upsert_tags`` (client 0 then reads each kind once); and one write
    of each kind on a spare register."""
    def client(i):
        regs = [reg for reg in seeds if OWNER[reg] == i]
        for reg in regs:
            registry.upsert_tags(reg, ctx.spark.createDataFrame(seeds[reg], ROW_SCHEMA))
        if i == 0:
            _warm_reads(ctx, registry, regs[:1])

    tasks = {
        "stream_warm_s": lambda: warm_stream(ctx, os.path.join(ctx.work, "blobs-warm")),
        "write_warm_s": lambda: _warm_writes(ctx, registry),
    }
    for i in range(CLIENTS):
        tasks[f"client{i}_warm_s"] = lambda i=i: client(i)
    return tasks


# --- blob ingest -----------------------------------------------------------


def blob_schedule(seed: int, seconds: float) -> list[tuple[float, str, bool]]:
    """(due offset s, file name, corrupt) for every blob. Route shares
    and the corrupt count are fixed; names, order and which blobs are
    corrupt come from the seed. Corrupt blobs are drawn from the first
    half of the schedule so their retry budget runs out inside the
    measured window."""
    rng = random.Random(seed * 7919 + 17)
    n = max(8, round(BLOB_RATE * seconds / 2))
    routes = [r for r, share in ROUTE_SHARE for _ in range(round(share * n))]
    routes = (routes + ["standard"] * n)[:n]
    rng.shuffle(routes)
    n_bad = max(1, round(CORRUPT_SHARE * n))
    bad = set(rng.sample(range(n // 2), n_bad))
    out = []
    for i, route in enumerate(routes):
        marker = ".corrupt" if i in bad else ""
        if route == "pid":
            name = f"A4{rng.choice('015')}{rng.randint(10, 99)}-{i:05d}{marker}.pdf"
        elif route == "standard":
            name = f"DRW-{rng.randint(0, 9999):04d}-{i:05d}{marker}.{rng.choice(['pdf', 'png', 'jpg', 'tiff'])}"
        else:
            name = f"notes-{i:05d}{marker}.{rng.choice(['txt', 'docx', 'csv'])}"
        out.append((i / BLOB_RATE, name, bool(marker)))
    return out


def _land(staging: str, inbox: str, name: str, payload: bytes) -> None:
    tmp = os.path.join(staging, name)
    with open(tmp, "wb") as f:
        f.write(payload)
    os.rename(tmp, os.path.join(inbox, name))


class BlobLoop:
    def __init__(self, ctx, base: str, schedule):
        self.ctx, self.schedule = ctx, schedule
        self.inbox, self.staging = os.path.join(base, "in"), os.path.join(base, "staging")
        self.ckpt, self.out = os.path.join(base, "ckpt"), os.path.join(base, "out")
        for d in (self.inbox, self.staging):
            os.makedirs(d, exist_ok=True)
        self.landed: dict[str, float] = {}
        self.lock = threading.Lock()  # guards ``landed`` between generator and poller
        self.committed: dict[str, float] = {}
        self.late: list[float] = []
        self.passes: list[dict] = []
        self.readback: list[float] = []
        self.generator_done = threading.Event()

    def generate(self, t0: float) -> None:
        rng = random.Random(len(self.schedule))
        for due, name, _bad in self.schedule:
            delay = t0 + due - now()
            if delay > 0:
                time.sleep(delay)
            _land(self.staging, self.inbox, name, rng.randbytes(rng.randint(100, 4000)))
            with self.lock:
                self.landed[name] = t0 + due
            self.late.append(max(0.0, now() - (t0 + due)))
        self.generator_done.set()

    def one_pass(self, traced: bool) -> None:
        from acuvate_spark.streaming.blob_ingest import routed_files, start_blob_ingest

        spark, tracer = self.ctx.spark, self.ctx.tracer
        with self.lock:
            backlog = sum(1 for n in self.landed if n not in self.committed and ".corrupt" not in n)
        t0 = now()
        with tracer.span("blob_ingest.start", "streaming.blob_ingest", traced) as s:
            q = start_blob_ingest(spark, self.inbox, self.ckpt, self.out)
        with tracer.span("blob_ingest.await", "streaming.blob_ingest", traced):
            q.awaitTermination()
        end = now()
        progress = q.lastProgress or {}
        with tracer.span("blob_ingest.readback", "streaming.blob_ingest", traced) as r:
            paths = [row.path for row in routed_files(spark, self.out).select("path").collect()]
        for p in paths:
            self.committed.setdefault(os.path.basename(p), end)
        self.readback.append(r["dur"])
        self.passes.append({"start_s": s["dur"], "wall_s": end - t0, "backlog": backlog,
                            "durations": progress.get("durationMs", {}),
                            "rows": progress.get("numInputRows", 0)})

    def poll(self) -> None:
        """Passes back to back until every blob has landed and every
        good blob is committed."""
        good = {n for _, n, bad in self.schedule if not bad}
        k, deadline = 0, now() + self.schedule[-1][0] + POLL_GRACE_S
        while not (self.generator_done.is_set() and good <= set(self.committed)):
            if now() > deadline:
                raise RuntimeError(f"{len(good - set(self.committed))} blobs never committed")
            self.one_pass(traced=self.ctx.tracer.enabled and k % 2 == 0)
            k += 1

    def drain(self) -> tuple[float, int]:
        """Passes until ``retry_pending`` is empty; returns (seconds, passes)."""
        from acuvate_spark.streaming.blob_ingest import retry_pending

        t0, n = now(), 0
        while retry_pending(self.ctx.spark, self.out).count() and n < MAX_DRAIN_PASSES:
            self.one_pass(traced=False)
            n += 1
        return now() - t0, n

    def check(self, tamper: bool) -> list[str]:
        from acuvate_spark.streaming.blob_ingest import dead_letters, retry_pending, routed_files

        spark = self.ctx.spark
        routed = [os.path.basename(r.path) for r in routed_files(spark, self.out).collect()]
        dead_rows = dead_letters(spark, self.out).collect()
        dead = [os.path.basename(r.path) for r in dead_rows]
        retries = sum(r.attempts - 1 for r in dead_rows)
        self.retry_ratio = retries / (retries + len(self.schedule))
        pending = retry_pending(spark, self.out).count()
        good = sorted(n for _, n, bad in self.schedule if not bad)
        bad = sorted(n for _, n, bad in self.schedule if bad)
        if tamper:
            good.append("phantom-00000.pdf")
        problems = []
        if sorted(routed) != sorted(good):
            problems.append(f"routed_files: {len(routed)} rows for {len(good)} good blobs "
                            f"({len(set(routed))} distinct)")
        if sorted(dead) != bad:
            problems.append(f"dead_letters: {sorted(dead)} want {bad}")
        if pending:
            problems.append(f"retry_pending: {pending} rows left")
        return problems


def warm_stream(ctx, base: str) -> None:
    """One ingest pass over two blobs, so the first stream start is
    paid in set-up."""
    loop = BlobLoop(ctx, base, [(0.0, "A4012-warm.pdf", False), (0.0, "DRW-warm.png", False)])
    loop.generate(now())
    loop.one_pass(traced=False)


# --- the workload ----------------------------------------------------------


def _run_threads(targets) -> None:
    """Run each callable on its own thread; re-raise the first error
    once all have ended."""
    errors: list[Exception] = []

    def guard(fn):
        try:
            fn()
        except Exception as e:  # re-raised below, after every thread has ended
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def measure(ctx, registry, plans, blob: BlobLoop) -> dict:
    """The registry phase (both clients at once), then the ingest
    phase (generator and poller). Each phase runs alone, so neither
    one's latencies depend on where the other happens to be."""
    results: list[list] = [[] for _ in plans]

    def client(i: int) -> None:
        # every other call of each kind is traced, starting with client 0,
        # so each kind has traced and untraced calls to compare
        last_rows: dict = {}
        seen: dict[str, int] = {}
        for op in plans[i]:
            seen[op["kind"]] = seen.get(op["kind"], i + 1) + 1
            traced = seen[op["kind"]] % 2 == 0
            results[i].append(run_op(ctx, registry, op, last_rows, traced=traced))

    t0 = now()
    _run_threads([lambda i=i: client(i) for i in range(len(plans))])
    t1 = now()
    _run_threads([lambda: blob.generate(now()), blob.poll])
    return {"results": results, "registry_wall_s": t1 - t0, "ingest_wall_s": now() - t1}
