"""Seeded TaskRouter CloudEvent histories with closed-form expectations.

Every history is built from per-task *plans*: a task kind, whole-second
gaps between its events and the workers it is offered to. The expected
conversations fact and agents dimension are derived from the plans
directly (no event replay), so they are an independent oracle for the
engine: ``check_against_reference_sim`` cross-checks them on a small
slice against the row-at-a-time ``taskrouter.sim.ReferenceSim``.

Timestamps are whole seconds plus a random millisecond part, so every
measure is an exact difference of whole seconds after the engine's
millisecond truncation. Within a task, consecutive events are at least
one second apart, so event-time order never depends on arrival order.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random
from dataclasses import dataclass, field

BASE_S = 1_717_200_000  # 2024-06-01T00:00:00Z

# task kind → share of tasks. These shares, the channel mix, the Zipf
# skew and the redelivery and reorder shares below are assumptions, not
# measured traffic; perfbench/README.md gives the reason for each.
TASK_MIX = {
    "completed": 0.50,
    "completed_nowrap": 0.05,
    "in_progress": 0.08,
    "rejected": 0.08,
    "missed": 0.07,
    "revoked": 0.05,
    "abandoned": 0.10,
    "transferred": 0.07,
}
CHANNELS = ["voice", "voice", "voice", "chat", "sms"]
ACTIVITIES = ["Available", "Busy", "Break", "Offline"]
FAILED_ET = {
    "rejected": "reservation.rejected",
    "missed": "reservation.timeout",
    "revoked": "reservation.rescinded",
}
FAILED_KIND = {
    "reservation.rejected": "REJECTED CONVERSATION",
    "reservation.timeout": "MISSED CONVERSATION",
    "reservation.canceled": "MISSED CONVERSATION",
    "reservation.rescinded": "REVOKED CONVERSATION",
}
MEASURES = [
    "queue_time", "ring_time", "talk_time", "wrapup_time", "abandon_time", "activity_time",
]
# fact columns the fingerprint covers, in order
FINGERPRINT_COLUMNS = [
    "segment_kind", "segment_external_id", "reservation_sid", "agent_uuid", "date",
    "queue", "channel", *MEASURES,
]
N_QUEUES = 12
ATTR_BYTES = (500, 2000)  # task_attributes JSON size range
REDELIVER = 0.05  # share of ids delivered twice
REORDER = 0.05  # share of events displaced later in arrival order


def iso(sec: int, ms: int) -> str:
    """Epoch seconds + milliseconds → the CloudEvent timestamp format."""
    t = dt.datetime.fromtimestamp(sec, dt.timezone.utc).replace(tzinfo=None)
    return t.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}Z"


def day_time(sec: int) -> str:
    """The fact's truncated ``date`` column as Spark renders it."""
    t = dt.datetime.fromtimestamp(sec, dt.timezone.utc).replace(tzinfo=None)
    return t.strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Event:
    """One CloudEvent in plan form. ``sec`` is the event time in whole
    seconds, ``ms`` its millisecond part."""

    event_id: str
    eventtype: str
    sec: int
    ms: int
    task: dict | None = None  # task-level fields shared by a task's events
    reservation_sid: str | None = None
    worker_sid: str | None = None
    worker_attributes: str | None = None
    activity: str | None = None
    wtip: int | None = None

    def payload(self) -> dict:
        p: dict = {"eventtype": self.eventtype, "timestamp": iso(self.sec, self.ms)}
        if self.task is not None:
            p.update(self.task)
        if self.reservation_sid is not None:
            p["reservation_sid"] = self.reservation_sid
        if self.worker_sid is not None:
            p["worker_sid"] = self.worker_sid
        if self.worker_attributes is not None:
            p["worker_attributes"] = self.worker_attributes
        if self.activity is not None:
            p["worker_activity_name"] = self.activity
        if self.wtip is not None:
            p["worker_time_in_previous_activity"] = self.wtip
        return p

    def cloud_event(self) -> dict:
        return {
            "id": self.event_id,
            "type": f"com.twilio.taskrouter.{self.eventtype}",
            "data": {"payload": self.payload()},
        }

    def json(self) -> str:
        return json.dumps(self.cloud_event(), separators=(",", ":"))


@dataclass
class Segment:
    """One expected fact row. ``terminal`` is the event whose arrival
    lets the streaming engine emit the row."""

    kind: str
    external_id: str
    reservation_sid: str
    agent_uuid: str
    sec: int
    queue: str | None
    channel: str | None
    measures: dict
    terminal: Event | None = None

    def key(self) -> tuple:
        return (self.kind, self.external_id, self.reservation_sid)

    def row(self) -> tuple:
        return (
            self.kind, self.external_id, self.reservation_sid, self.agent_uuid,
            day_time(self.sec), self.queue, self.channel,
            *[self.measures.get(m) for m in MEASURES],
        )


@dataclass
class History:
    """The expectations over a whole history: fact rows and, per
    worker, the agents-dimension row."""

    segments: list[Segment] = field(default_factory=list)
    agents: dict = field(default_factory=dict)


class _Ids:
    def __init__(self, prefix: str):
        self.prefix = prefix
        self.n = itertools.count()

    def __call__(self) -> str:
        return f"{self.prefix}{next(self.n):08d}"


def _zipf_picker(rng: random.Random, names: list[str], s: float = 1.1):
    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(len(names))))
    total = cum[-1]

    def pick() -> str:
        return names[bisect.bisect_left(cum, rng.random() * total)]

    return pick


def _channel_label(tcun: str) -> str:
    return {"voice": "Call", "chat": "Chat"}.get(tcun, tcun)


class TaskRouterGen:
    """Plans tasks and workers from one seeded RNG. Gaps between a
    task's consecutive events are drawn from [``gap_lo``, ``gap_hi``]
    seconds: minutes for history, a few seconds for the live stream."""

    def __init__(
        self,
        seed: int,
        n_workers: int = 200,
        gap_lo: int = 1,
        gap_hi: int = 300,
        id_prefix: str = "",
    ):
        self.rng = random.Random(seed)
        rng = self.rng
        self.gap_lo, self.gap_hi = gap_lo, gap_hi
        self.workers = [f"WK{id_prefix}{k:05d}" for k in range(n_workers)]
        self.queues = [f"Q{k:02d}" for k in range(N_QUEUES)]
        self.pick_worker = _zipf_picker(rng, self.workers)
        self.pick_queue = _zipf_picker(rng, self.queues)
        self.event_id = _Ids(f"EV{id_prefix}-")
        self.task_id = _Ids(f"WT{id_prefix}")
        self.res_id = _Ids(f"WR{id_prefix}")
        alphabet = "abcdefghijklmnopqrstuvwxyz      "
        self.blob = "".join(rng.choices(alphabet, k=1 << 15))
        kinds, weights = zip(*TASK_MIX.items())
        self.kinds, self.weights = list(kinds), list(weights)
        self.worker_attrs: dict[str, dict] = {}
        self.worker_version: dict[str, int] = {}
        for w in self.workers:
            self.new_worker_attrs(w)

    # ------------------------------------------------------------ helpers

    def gap(self) -> int:
        return self.rng.randint(self.gap_lo, self.gap_hi)

    def ms(self) -> int:
        return self.rng.randrange(1000)

    def _text(self, n: int) -> str:
        off = self.rng.randrange(len(self.blob) - n)
        return self.blob[off : off + n]

    def task_attributes(self, direction: str) -> str:
        """0.5–2 KB task_attributes JSON: routing fields plus padded
        conversation attributes/labels (no measure overrides, so every
        expected measure comes from event times)."""
        target = self.rng.randint(*ATTR_BYTES)
        conv: dict = {"case": f"C-{self.rng.randrange(10**6)}"}
        k = 1
        size = 120
        while size < target and k <= 10:
            n = min(190, target - size)
            conv[f"conversation_label_{k}"] = self._text(max(n, 8))
            size += n + 28
            k += 1
        return json.dumps(
            {"direction": direction, "from": "+15550000", "to": "+15551111",
             "conversations": conv},
            separators=(",", ":"),
        )

    def _worker_attr_json(self, w: str) -> str:
        return json.dumps(self.worker_attrs[w], separators=(",", ":"))

    def new_worker_attrs(self, w: str) -> None:
        v = self.worker_version.get(w, -1) + 1
        self.worker_version[w] = v
        self.worker_attrs[w] = {
            "email": f"{w.lower()}.v{v}@example.com",
            "agent_id": f"A-{w}",
            "roles": ["agent"],
            "team_id": f"T{self.rng.randrange(8)}",
            "team_name": f"Team {self.rng.randrange(8)} v{v}",
            "location": self.rng.choice(["NYC", "LON", "SFO", "BER"]),
            "manager": "Morgan",
            "department_name": "Support",
        }

    # -------------------------------------------------------------- tasks

    def task(self, t0: int, kind: str | None = None) -> tuple[list[Event], list[Segment]]:
        """All events of one task starting at ``t0`` and its segments."""
        rng = self.rng
        kind = kind or rng.choices(self.kinds, self.weights)[0]
        sid = self.task_id()
        tcun = rng.choice(CHANNELS)
        queue = self.pick_queue()
        common = {
            "task_sid": sid,
            "task_attributes": self.task_attributes(rng.choice(["inbound", "outbound"])),
            "task_channel_unique_name": tcun,
            "workflow_name": "Main",
            "task_queue_name": queue,
            "task_queue_sid": f"WQ{queue}",
        }
        chan = _channel_label(tcun)
        evs: list[Event] = []
        segs: list[Segment] = []

        def ev(et, sec, rsid=None, worker=None) -> Event:
            e = Event(
                self.event_id(), et, sec, self.ms(), task=common, reservation_sid=rsid,
                worker_sid=worker,
                worker_attributes=self._worker_attr_json(worker) if worker else None,
            )
            evs.append(e)
            return e

        def seg(k, sec, rsid, worker, terminal, **m) -> None:
            segs.append(Segment(k, sid, rsid, worker, sec, queue, chan, m, terminal))

        def accepted_leg(entry_sec: int, start: int, complete: bool, wrap: bool):
            """created → accepted [→ wrapup] [→ completed] on a fresh
            reservation; returns the time after the leg."""
            rsid, w = self.res_id(), self.pick_worker()
            created = start + self.gap()
            ev("reservation.created", created, rsid, w)
            acc_sec = created + self.gap()
            acc = ev("reservation.accepted", acc_sec, rsid, w)
            q, ring = acc_sec - entry_sec, acc_sec - created
            seg("QUEUE", entry_sec, rsid, w, acc, queue_time=q)
            t = acc_sec
            if not complete:
                if wrap:
                    t += self.gap()
                    ev("reservation.wrapup", t, rsid, w)
                seg("CONVERSATION IN PROGRESS", acc_sec, rsid, w, None,
                    queue_time=q, ring_time=ring)
                return t
            wrap_sec = None
            if wrap:
                wrap_sec = t = t + self.gap()
                ev("reservation.wrapup", wrap_sec, rsid, w)
            done = t + self.gap()
            fin = ev("reservation.completed", done, rsid, w)
            talk = (wrap_sec or done) - acc_sec
            seg("CONVERSATION", acc_sec, rsid, w, fin, queue_time=q, ring_time=ring,
                talk_time=talk, wrapup_time=(done - wrap_sec) if wrap_sec else 0)
            return done

        ev("task-queue.entered", t0)
        if kind in ("completed", "completed_nowrap"):
            accepted_leg(t0, t0, True, kind == "completed")
        elif kind == "in_progress":
            accepted_leg(t0, t0, False, rng.random() < 0.3)
        elif kind in FAILED_ET:
            rsid, w = self.res_id(), self.pick_worker()
            created = t0 + self.gap()
            ev("reservation.created", created, rsid, w)
            fsec = created + self.gap()
            fail_et = FAILED_ET[kind]
            if kind == "missed" and rng.random() < 0.3:
                fail_et = "reservation.canceled"
            f = ev(fail_et, fsec, rsid, w)
            seg(FAILED_KIND[fail_et], fsec, rsid, w, f, ring_time=fsec - created)
            accepted_leg(t0, fsec, True, True)
        elif kind == "abandoned":
            csec = t0 + self.gap()
            c = ev("task.canceled", csec)
            common_q = csec - t0
            seg("QUEUE", t0, "", "", c, queue_time=common_q, abandon_time=common_q)
            seg("CONVERSATION", csec, "", "", c, queue_time=common_q, abandon_time=common_q)
        elif kind == "transferred":
            end1 = accepted_leg(t0, t0, True, True)
            t1 = end1 + self.gap()
            ev("task.transfer-initiated", t1)
            accepted_leg(t1, t1, True, rng.random() < 0.5)
        else:
            raise ValueError(kind)
        return evs, segs

    # ------------------------------------------------------------ workers

    def worker_events(
        self, w: str, times: list[int], deleted: bool
    ) -> tuple[list[Event], list[Segment], dict]:
        """worker.created at ``times[0]``, activity updates at the rest
        (with an attributes update now and then), optionally deleted one
        gap after the last. Returns the events, the AGENT STATUS
        segments and the worker's agents-dimension row."""
        rng = self.rng
        evs: list[Event] = []
        opener_secs: list[int] = []
        closing_wtips: list[int] = []
        created_wtip = rng.randrange(1, 3600)
        evs.append(Event(self.event_id(), "worker.created", times[0], self.ms(),
                         worker_sid=w, worker_attributes=self._worker_attr_json(w),
                         activity="Offline", wtip=created_wtip))
        opener_secs.append(times[0])
        acts = []
        for t in times[1:]:
            if rng.random() < 0.1:
                self.new_worker_attrs(w)
                # half a second after an update: never the same instant
                evs.append(Event(self.event_id(), "worker.attributes.update", t, 500,
                                 worker_sid=w, worker_attributes=self._worker_attr_json(w)))
            wtip = rng.randrange(1, 7200)
            act = rng.choice(ACTIVITIES)
            evs.append(Event(self.event_id(), "worker.activity.update", t, rng.randrange(500),
                             worker_sid=w, worker_attributes=self._worker_attr_json(w),
                             activity=act, wtip=wtip))
            opener_secs.append(t)
            closing_wtips.append(wtip)
            acts.append(act)
        segs = []
        for k, sec in enumerate(opener_secs):
            closed = k + 1 < len(opener_secs)
            if closed:
                at = closing_wtips[k]
                kind = "AGENT STATUS"
            else:
                at = created_wtip if k == 0 else None
                kind = "AGENT STATUS IN PROGRESS"
            segs.append(Segment(kind, w, "", w, sec, None, None, {"activity_time": at}))
        last = times[-1]
        if deleted:
            last = times[-1] + self.gap()
            evs.append(Event(self.event_id(), "worker.deleted", last, self.ms(), worker_sid=w,
                             worker_attributes=self._worker_attr_json(w)))
        attrs = self.worker_attrs[w]
        agent = {
            "agent_uuid": w,
            "email": attrs["email"],
            "team_name": attrs["team_name"],
            "state": "Deleted" if deleted else "Active",
            "date_joined": day_time(times[0]),
            "date_left": day_time(last) if deleted else None,
        }
        return evs, segs, agent


def arrival_order(
    rng: random.Random, events: list[Event], redeliver: float = REDELIVER
) -> list[Event]:
    """Event-time order, then ``REORDER`` of the events displaced later
    by up to 64 places, then ``redeliver`` of the ids delivered a second
    time up to 256 places after the first copy."""
    out = sorted(events, key=lambda e: (e.sec, e.ms, e.event_id))
    n = len(out)
    for i in rng.sample(range(n), int(n * REORDER)):
        j = min(n - 1, i + rng.randint(1, 64))
        out[i], out[j] = out[j], out[i]
    dups = sorted(rng.sample(range(n), int(n * redeliver)), reverse=True)
    for i in dups:
        out.insert(min(len(out), i + rng.randint(1, 256)), out[i])
    return out


def expected_fingerprint(segments: list[Segment]) -> dict:
    """Per segment kind: row count, measure sums and a row checksum —
    the same numbers ``checks.fact_fingerprint`` computes in Spark."""
    import zlib

    out: dict = {}
    for s in segments:
        f = out.setdefault(s.kind, {"n": 0, "crc": 0, **{m: 0 for m in MEASURES}})
        f["n"] += 1
        for m in MEASURES:
            f[m] += s.measures.get(m) or 0
        f["crc"] += zlib.crc32(row_text(s.row()).encode())
    return out


def row_text(row: tuple) -> str:
    """The checksum text of one fact row; NULL renders as ``~`` (the
    Spark side builds the same string with ``concat_ws``)."""
    return "|".join("~" if v is None else str(v) for v in row)


@dataclass
class MergePlan:
    """A base history plus a sequence of small update batches over its
    last day. ``history`` holds the expectations over every event."""

    base: list[Event]
    batches: list[list[Event]]
    history: History
    tasks: list[str]
    workers: list[str]
    start_s: int
    days: int

    @property
    def events(self) -> list[Event]:
        """Every event in arrival order: the base, then each batch."""
        return self.base + [e for b in self.batches for e in b]


def merge_history(
    seed: int, base_tasks: int, n_batches: int, batch_tasks: int, n_workers: int = 100
) -> MergePlan:
    """Base tasks spread over the first six of seven days; batch ``j``
    carries ``batch_tasks`` new conversations starting in slice ``j`` of
    the last day, the worker events of that slice, the last one or two
    events of ~5% of the base tasks (completions of open conversations
    and late events for conversations days old), and 20 redelivered ids
    of logged events."""
    days, start_s, updates_per_worker, late_share, redeliver_per_batch = 7, BASE_S, 12, 0.05, 20
    g = TaskRouterGen(seed, n_workers=n_workers)
    rng = g.rng
    recent = start_s + (days - 1) * 86400
    slice_s = 86400 // n_batches
    h = History()
    base: list[Event] = []
    batches: list[list[Event]] = [[] for _ in range(n_batches)]
    tasks: list[str] = []
    for _ in range(base_tasks):
        evs, segs = g.task(start_s + rng.randrange(recent - start_s - 7200))
        h.segments += segs
        tasks.append(segs[0].external_id)
        if rng.random() < late_share:
            held = rng.randint(1, 2)
            batches[rng.randrange(n_batches)].extend(evs[-held:])
            evs = evs[:-held]
        base += evs
    for j in range(n_batches):
        for _ in range(batch_tasks):
            evs, segs = g.task(recent + j * slice_s + rng.randrange(slice_s))
            h.segments += segs
            tasks.append(segs[0].external_id)
            batches[j] += evs
    span = days * 86400
    for w in g.workers:
        times = sorted(rng.sample(range(start_s + 60, start_s + span), updates_per_worker))
        evs, segs, agent = g.worker_events(w, [start_s - rng.randrange(1, 3600)] + times,
                                           rng.random() < 0.03)
        h.segments += segs
        h.agents[w] = agent
        for e in evs:
            if e.sec < recent:
                base.append(e)
            else:
                batches[min(n_batches - 1, (e.sec - recent) // slice_s)].append(e)
    logged = list(base)
    for b in batches:
        b += rng.sample(logged, redeliver_per_batch)
    return MergePlan(
        base=arrival_order(rng, base),
        batches=[arrival_order(rng, b, redeliver=0.0) for b in batches],
        history=h, tasks=tasks, workers=g.workers, start_s=start_s, days=days,
    )


def check_against_reference_sim(seed: int, base_tasks: int = 60, n_workers: int = 6) -> list[str]:
    """Replay a small ``merge_history`` (base and update batches, in the
    arrival order the backfill reads) through
    ``taskrouter.sim.ReferenceSim`` and compare its segments and agents
    with the closed form. Returns the list of mismatches (empty when they
    agree)."""
    from twilio_event_streams_reporting_example_spark.taskrouter.sim import ReferenceSim

    p = merge_history(seed, base_tasks, 2, 5, n_workers=n_workers)
    h = p.history
    sim = ReferenceSim([e.cloud_event() for e in p.events])

    def sim_row(r: dict) -> tuple:
        return (
            r["segment_kind"], r["segment_external_id"], r["reservation_sid"], r["agent_uuid"],
            r["date"].strftime("%Y-%m-%d %H:%M:%S"), r["queue"], r["channel"],
            *[r.get(m) for m in MEASURES],
        )

    got = sorted(map(sim_row, sim.segment_rows()), key=row_text)
    want = sorted((s.row() for s in h.segments), key=row_text)
    problems = []
    if got != want:
        gs, ws = set(got), set(want)
        problems += [f"sim only: {r}" for r in sorted(gs - ws, key=row_text)[:5]]
        problems += [f"closed form only: {r}" for r in sorted(ws - gs, key=row_text)[:5]]
        if not problems:
            problems.append("row multiplicities differ")
    for r in sim.agent_rows():
        a = h.agents.get(r["agent_uuid"])
        sim_a = {
            "agent_uuid": r["agent_uuid"], "email": r["email"], "team_name": r["team_name"],
            "state": r["state"], "date_joined": r["date_joined"].strftime("%Y-%m-%d %H:%M:%S"),
            "date_left": r["date_left"].strftime("%Y-%m-%d %H:%M:%S") if r["date_left"] else None,
        }
        if a != sim_a:
            problems.append(f"agent {r['agent_uuid']}: sim {sim_a} != closed form {a}")
    if len(sim.agent_rows()) != len(h.agents):
        problems.append("agent count differs")
    return problems
