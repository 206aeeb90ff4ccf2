"""Materialized-state cache + the two signature algorithms:

  - run_deps / run_foreach_recursively ≙ workcache.rs:68-117 (memoized
    deterministic replay)
  - shelve_event ≙ workcache.rs:119-417 (automatic dependency inference by
    commutation testing)
  - try_merge    ≙ workcache.rs:419-479 (merge of parallel event branches,
    O(n²) in parallel branches per README.md:5-6)

Dataset values are opaque to this module; the Engine supplies the
transform (`run_event_bare`) and whole-value equality (`dat_eq` — the
reference's `Dat: PartialEq` bound, esvc-traits/src/lib.rs:12-13). With
the Spark engines a dataset is a persisted DataFrame whose equality is a
canonical content-hash comparison (one aggregate job, memoized); the
control loop below stays on the driver and only launches jobs through the
engine, exactly matching the reference's architecture where the core is
pure orchestration (SURVEY.md §3.4).

States are frozensets of event hashes; the memo table `sts` maps every
materialized prefix state to its dataset value (workcache.rs:12-15).
The reference never evicts (its documented unbounded-cache flaw); here
`prune()` drops entries manually, and passing a `store.SnapshotStore`
as `sts` bounds the persisted footprint automatically — LRU evictions
spill to parquet by canonical state key and reload on miss, across
sessions.
"""

from __future__ import annotations

from typing import Any

from .engines import BaseEngine
from .graph import DatasetNotFound, Event, Graph, IncludeSpec
from .hashing import format_hash

_ALL = IncludeSpec.INCLUDE_ALL
_ONLY_DEPS = IncludeSpec.INCLUDE_ONLY_DEPS

# dependency-inference states (shelve_event; ≙ workcache.rs:129-134)
_USE = 0
_USE_SOFT = 1
_DENY = 2


class WorkCacheError(Exception):
    pass


class HashChangeAtMerge(WorkCacheError):
    def __init__(self, old: bytes, new: bytes):
        super().__init__(
            f"event {format_hash(old)}: merge failed, new hash {format_hash(new)}"
        )
        self.old, self.new = old, new


class NoopAtMerge(WorkCacheError):
    def __init__(self, evid: bytes):
        super().__init__(f"event {format_hash(evid)} got turned into a no-op at merge")
        self.evid = evid


class WorkCache:
    def __init__(self, engine: BaseEngine, init_data: Any, sts=None):
        self.engine = engine
        # state (frozenset of event hashes) -> materialized dataset value.
        # Default: the reference's unbounded in-RAM memo (workcache.rs:
        # 12-15). Pass a store.SnapshotStore to bound the persisted
        # footprint instead: evictions spill to parquet by canonical
        # state key and reload on miss — including in a NEW session over
        # the same spill dir, which replays nothing ever spilled.
        self.sts = sts if sts is not None else {}
        self.sts[frozenset()] = init_data

    # -- replay ≙ workcache.rs:68-108 -------------------------------------
    def run_deps(
        self, graph: Graph, tt: frozenset[bytes], schedule: list[bytes]
    ) -> tuple[Any, frozenset[bytes]]:
        """Fold the scheduled events over the base state `tt`, memoizing
        every intermediate prefix state. Datasets are treated as immutable
        values (DataFrames already are; the reference clones instead)."""
        if tt not in self.sts:
            raise DatasetNotFound(f"base state not materialized: {sorted(tt)!r}")
        data = self.sts[tt]
        for evid in schedule:
            ev = graph.events.get(evid)
            if ev is None:
                from .graph import DependencyNotFound

                raise DependencyNotFound(evid)
            nxt = tt | {evid}
            if nxt in self.sts:
                data = self.sts[nxt]  # cache hit (workcache.rs:90-93)
            else:
                data = self.engine.run_event_bare(ev.cmd, ev.arg, data)
                self.sts[nxt] = data
            tt = nxt
        return self.sts[tt], tt

    def run_foreach_recursively(
        self, graph: Graph, evids: dict[bytes, IncludeSpec]
    ) -> tuple[Any, frozenset[bytes]]:
        """Materialize a state from the empty state: schedule ancestors
        (calculate_dependencies) then replay (≙ workcache.rs:110-117)."""
        schedule = graph.calculate_dependencies(set(), evids)
        return self.run_deps(graph, frozenset(), schedule)

    def materialize(self, graph: Graph, heads: set[bytes]) -> Any:
        """Convenience: dataset value at the state identified by `heads`."""
        dat, _ = self.run_foreach_recursively(graph, {h: _ALL for h in heads})
        return dat

    # -- dependency inference ≙ workcache.rs:119-417 ----------------------
    def shelve_event(
        self, graph: Graph, seed_deps: set[bytes], ev: Event
    ) -> bytes | None:
        """Record `ev`, *discovering* its minimal dependency set.

        Walks the seed-head frontier backward. For each candidate
        dependency `conc`, tests independence by commutation: apply `ev`
        to (state − conc) then `conc` on top; independent iff the result
        differs from the pre-state AND equals the expected post-state
        (workcache.rs:288-296). Special cases preserved from the
        reference: no-op events are rejected (→ None); a revert
        (post-state == candidate's base state) is dependent
        (workcache.rs:275-279); an equal-but-non-idempotent command is
        dependent (workcache.rs:280-286); hard deps of a dependency are
        denied from further seeding (workcache.rs:322-329); multi-path
        pulled-in candidates are deferred (workcache.rs:244-268); if
        reduction would lose a necessary dependency, all remaining seeds
        become soft deps and the walk stops (workcache.rs:343-393).
        """
        eng = self.engine
        # transient states (expected, safety-net, commutation tests) are
        # only ever compared, never replayed from, so they need no
        # release
        run_t = eng.run_event_transient
        ev = Event(cmd=ev.cmd, arg=ev.arg, deps={})  # deps are inferred, not trusted
        cur_deps: dict[bytes, int] = {}
        seed_deps = set(seed_deps)

        base_st, _ = self.run_foreach_recursively(graph, {h: _ALL for h in seed_deps})
        cur_st = run_t(ev.cmd, ev.arg, base_st)
        if not cur_deps and eng.dat_eq(base_st, cur_st):
            return None  # no-op event (workcache.rs:159-162)

        while seed_deps:
            new_seed_deps: set[bytes] = set()
            seed_deps = {h for h in seed_deps if h not in cur_deps}

            # current expected state: live seeds (minus denied) + used deps
            incl = {h: _ALL for h in seed_deps if cur_deps.get(h) != _DENY}
            incl.update({h: _ALL for h, s in cur_deps.items() if s == _USE})
            prev_base = base_st
            base_st, _ = self.run_foreach_recursively(graph, incl)
            # an identical base VALUE (memo returned the same object)
            # keeps the expected state: the transform is deterministic
            # (the round-1 incl always equals the pre-loop state, so this
            # saves one engine job per shelve)
            if base_st is not prev_base:
                cur_st = run_t(ev.cmd, ev.arg, base_st)
            if not cur_deps and eng.dat_eq(base_st, cur_st):
                return None  # no-op (workcache.rs:208-211)

            # materialize each candidate's complement state (cur − conc)
            extra_new_seed_deps: set[bytes] = set()
            complements: dict[bytes, frozenset[bytes]] = {}
            use_deps = {h for h, s in cur_deps.items() if s == _USE}
            for conc in sorted(seed_deps):
                incl = {
                    h: (_ONLY_DEPS if h == conc else _ALL)
                    for h in seed_deps | use_deps
                }
                _, tmptt = self.run_foreach_recursively(graph, incl)
                if conc in tmptt:
                    # pulled in via another dependency path: defer to the
                    # next seed round (workcache.rs:244-268)
                    extra_new_seed_deps.add(conc)
                else:
                    complements[conc] = tmptt

            # Phase 1: resolve the free verdicts (revert / equal-arg need
            # no replay) and hand the candidates that need the real
            # commutation test to the engine's commute_batch in one call.
            verdicts: dict[bytes, bool] = {}
            pending: list[tuple[bytes, Any, Event]] = []
            for conc in sorted(complements):
                conc_base = self.sts[complements[conc]]
                conc_ev = graph.events[conc]
                if eng.dat_eq(cur_st, conc_base):
                    verdicts[conc] = False  # revert (workcache.rs:275-279)
                elif ev.cmd == conc_ev.cmd and ev.arg == conc_ev.arg:
                    # equal-but-non-idempotent (rs:280-286)
                    verdicts[conc] = False
                else:
                    pending.append((conc, conc_base, conc_ev))
            verdicts.update(eng.commute_batch(ev, pending, cur_st))

            # Phase 2: fold the verdicts in the reference's candidate
            # order (Deny marks must land exactly as the sequential walk
            # would place them).
            for conc in sorted(complements):
                conc_ev = graph.events[conc]
                if verdicts[conc]:
                    # move backward through the DAG
                    new_seed_deps.update(conc_ev.deps.keys())
                else:
                    # dependent: keep (never overriding an earlier Deny),
                    # and deny its hard deps from further seeding
                    cur_deps.setdefault(conc, _USE)
                    for dep, is_hard in conc_ev.deps.items():
                        if is_hard:
                            cur_deps[dep] = _DENY

            if extra_new_seed_deps != seed_deps:
                new_seed_deps |= extra_new_seed_deps
            # else: dropping them prevents an infinite loop (rs:332-341)

            # safety net: would the reduced seed set still reproduce cur_st?
            incl = {h: _ALL for h in new_seed_deps if cur_deps.get(h) != _DENY}
            incl.update({h: _ALL for h, s in cur_deps.items() if s == _USE})
            bare_st, bare_tt = self.run_foreach_recursively(graph, incl)
            seed_deps -= bare_tt
            if bare_st is base_st and not seed_deps:
                # the reduced seed set resolved to the SAME memoized base
                # value cur_st was computed from and there is nothing
                # left to fold on top: tmp_st would be the deterministic
                # transform of an identical value — equal by
                # construction, no engine job needed (the common case on
                # linear histories, where every candidate turns out
                # dependent)
                eq = True
            else:
                # a lazy transient is right only for the common 0-step
                # fold: chaining transients would make step k's
                # fingerprint job re-execute steps 1..k-1 from bare_st
                # (quadratic in remaining seeds on wide merge frontiers)
                # — with steps remaining, materialize each intermediate
                # eagerly and release it after the next step consumes it
                run_s = run_t if not seed_deps else eng.run_event_bare
                tmp_st = run_s(ev.cmd, ev.arg, bare_st)
                for conc in sorted(seed_deps):
                    cev = graph.events[conc]
                    prev = tmp_st
                    tmp_st = run_s(cev.cmd, cev.arg, prev)
                    # intermediate fold states are transient
                    if prev is not bare_st and prev is not tmp_st:
                        eng.release(prev)
                eq = eng.dat_eq(cur_st, tmp_st)
                if tmp_st is not bare_st:
                    eng.release(tmp_st)
            if not eq:
                # a necessary dependency got lost: degrade to soft deps on
                # every remaining seed rather than a wrong answer
                for h in seed_deps:
                    cur_deps[h] = _USE_SOFT
                break
            seed_deps = new_seed_deps

        # the inferred event is recorded; cur_st was transient. A later
        # materialize replays the event with run_event_bare over its
        # actual base state. Engines with a transform memo
        # (SparkEngineBase) skip that replay's fingerprint job when this
        # walk already applied ev to a state with the same fingerprint;
        # the replay still runs on the real predecessor value
        final = Event(
            cmd=ev.cmd,
            arg=ev.arg,
            deps={
                h: (s == _USE)
                for h, s in sorted(cur_deps.items())
                if s in (_USE, _USE_SOFT)
            },
        )
        collision, evhash = graph.ensure_event(final)
        if collision is not None:
            from .graph import HashCollision

            raise HashCollision(evhash, collision)
        return evhash

    # -- merge ≙ workcache.rs:419-479 --------------------------------------
    def try_merge(self, graph: Graph, sts: set[bytes]) -> None:
        """Merge parallel branches: compute the common-ancestor frontier,
        then re-shelve every non-ancestor event onto the growing seed.
        Raises HashChangeAtMerge if an event's *hard* deps changed, or
        NoopAtMerge if an event became a no-op."""
        full_seed = set(
            graph.calculate_dependencies(set(), {h: _ONLY_DEPS for h in sts})
        )
        seed = set(
            graph.fold_state({h: False for h in full_seed}, expand=False).keys()
        )
        for i in sorted(sts):
            if i in full_seed:
                continue
            ev = graph.events[i]
            ih = self.shelve_event(
                graph, set(seed), Event(cmd=ev.cmd, arg=ev.arg, deps=dict(ev.deps))
            )
            if ih is None:
                raise NoopAtMerge(i)
            if ih != i:
                old_hard = {h for h, hard in graph.events[i].deps.items() if hard}
                new_hard = {h for h, hard in graph.events[ih].deps.items() if hard}
                if old_hard != new_hard:
                    raise HashChangeAtMerge(i, ih)
                # only soft deps changed: carry on (workcache.rs:455-471)
            seed.add(i)

    # -- cache management --------------------------------------------------
    def prune(self, keep: set[frozenset[bytes]] | None = None) -> int:
        """Drop memoized states (except the empty base state and `keep`),
        releasing engine resources (e.g. unpersisting DataFrames).

        With a SnapshotStore this reaches the IN-MEMORY entries (and
        deletes their spill files via pop); states that were already
        LRU-spilled cannot be enumerated (their keys are one-way
        digests) and survive on disk — call `sts.clear_spill()` to
        forget the disk side wholesale."""
        keep = keep or set()
        drop = [k for k in self.sts if k and k not in keep]
        for k in drop:
            self.engine.release(self.sts.pop(k))
        return len(drop)
