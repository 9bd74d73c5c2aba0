"""Seeded generators: reproducible, seed-sensitive, and agreeing with the
row-at-a-time reference simulator."""

from perfbench import gen_corpus as GC
from perfbench import gen_taskrouter as G
from perfbench.workloads import Backfill, LiveStream


def _lines(events):
    return [e.json() for e in events]


def test_merge_history_same_seed_same_output():
    def dump(p):
        return _lines(p.base), [_lines(b) for b in p.batches], p.history.agents

    assert dump(G.merge_history(3, 100, 4, 10)) == dump(G.merge_history(3, 100, 4, 10))
    assert dump(G.merge_history(3, 100, 4, 10)) != dump(G.merge_history(4, 100, 4, 10))


def test_live_schedule_same_seed_same_output():
    def dump(seed):
        writes, segments = LiveStream()._schedule(seed, 4, "L1")
        return [(round(d, 6), e.json(), f) for d, e, f in writes], [s.row() for s in segments]

    assert dump(11) == dump(11)
    assert dump(11) != dump(12)


def test_corpus_same_seed_same_output():
    a, b = GC.corpus(9, 80, 200), GC.corpus(9, 80, 200)
    assert a.docs == b.docs and a.planted_pairs == b.planted_pairs
    assert (a.vectors == b.vectors).all() and a.planted_vec_dups == b.planted_vec_dups
    assert GC.corpus(10, 80, 200).docs != a.docs
    assert a.planted_pairs and a.planted_vec_dups


def test_backfill_history_mix():
    """The composition the backfill times: every task kind, ~5%
    redelivered ids in the base, 20 redelivered logged ids per update
    batch, late events of base tasks held back into the batches, and
    0.5-2 KB task attributes."""
    p = G.merge_history(1, Backfill.BASE_TASKS, Backfill.N_BATCHES, Backfill.BATCH_TASKS)
    base_ids = [e.event_id for e in p.base]
    assert 0.04 < (len(base_ids) - len(set(base_ids))) / len(set(base_ids)) < 0.06
    base_tasks = {e.task["task_sid"] for e in p.base if e.task}
    for b in p.batches:
        ids = [e.event_id for e in b]
        assert len(ids) == len(set(ids))
        assert len(set(ids) & set(base_ids)) == 20
    late = [e for b in p.batches for e in b
            if e.task and e.task["task_sid"] in base_tasks and e.event_id not in base_ids]
    assert len(late) > 0.03 * Backfill.BASE_TASKS
    kinds = {s.kind for s in p.history.segments}
    assert {"QUEUE", "CONVERSATION", "CONVERSATION IN PROGRESS", "REJECTED CONVERSATION",
            "MISSED CONVERSATION", "REVOKED CONVERSATION", "AGENT STATUS",
            "AGENT STATUS IN PROGRESS"} <= kinds
    sizes = [len(e.task["task_attributes"]) for e in p.events if e.task]
    assert 450 <= min(sizes) and max(sizes) <= 2100


def test_closed_form_agrees_with_reference_sim():
    for seed in (1, 2, 3):
        assert G.check_against_reference_sim(seed) == []


def test_closed_form_covers_exactly_the_input():
    """The closed form has a fact row for every task and an agents row
    for every worker of the events the backfill reads, and no others."""
    p = G.merge_history(2, 60, 3, 5)
    assert ({s.external_id for s in p.history.segments if s.queue is not None}
            == {e.task["task_sid"] for e in p.events if e.task})
    assert set(p.history.agents) == {e.worker_sid for e in p.events if e.task is None}
    assert Backfill.N_BATCHES >= Backfill.MERGES_TRACED + 1
