"""Row-for-row check of a table state against ``tests/oracle.replay``.

The oracle is the repo's row-at-a-time reference: it applies events in
offset order and returns ``key -> final row``. With the default sink
config the delete match key is the full primary key, so each
conversation's rows depend only on that conversation's events; the
replay runs per ``conv_id`` (same result, and the oracle's per-delete
scan of its state stays small).
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from tests.oracle import replay

#: columns the engine stamps at apply time; never compared
IGNORED = ("audit_ts",)


def by_conversation(events: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for e in events:
        out[e["conv_id"]].append(e)
    return out


def oracle_state(events_by_conv: dict[str, list[dict]], cfg, payload_cols,
                 convs=None, max_offset: int | None = None) -> dict:
    """Oracle final state over ``convs`` (default all), using events up
    to and including ``max_offset`` (default all)."""
    state: dict = {}
    for conv in (events_by_conv if convs is None else convs):
        evs = events_by_conv.get(conv, ())
        if max_offset is not None:
            evs = [e for e in evs if e[cfg.offset_column] <= max_offset]
        state.update(replay(evs, cfg, payload_cols))
    return state


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def diff(got: dict, want: dict, limit: int = 5) -> list[str]:
    """Differences between engine rows and oracle rows, both keyed by
    primary key. Compares every oracle column except ``IGNORED``;
    returns at most ``limit`` descriptions (empty = equal)."""
    out = []
    for key in sorted(set(got) ^ set(want), key=repr)[:limit]:
        side = "engine" if key in got else "oracle"
        out.append(f"key {key!r} only in {side}")
    for key in sorted(set(got) & set(want), key=repr):
        if len(out) >= limit:
            break
        for col, wval in want[key].items():
            if col in IGNORED:
                continue
            gval = got[key].get(col)
            if _norm(gval) != _norm(wval):
                out.append(f"key {key!r} column {col}: engine {gval!r} "
                           f"!= oracle {wval!r}")
                break
    return out
