"""Reference-faithful row-at-a-time replay oracle.

Mirrors how the reference connector applies a batch: records in offset
order (``BufferedRecords.java:103``), MERGE upsert for non-deletes
(``:234-268``), soft-delete UPDATE with retain fields and the
"not already deleted" three-valued guard (``:270-305``), audit column
set on every applied row. Pure Python, independent of the engine's
distributed formulation — this is the executable spec the engine must
match row-for-row.
"""

from __future__ import annotations

from kafka_jdbc_sink_connector_spark.config import (
    DeleteMode,
    InsertMode,
    SinkConfig,
)

AUDIT_SENTINEL = "<<audit>>"


def replay(
    events: list[dict], cfg: SinkConfig, payload_cols: list[str],
    state: dict[tuple, dict] | None = None,
) -> dict[tuple, dict]:
    """Apply events (dicts) sequentially, starting from ``state`` (a
    previous replay's result, left unchanged) or an empty table;
    returns key -> final row.

    ``audit`` column is set to AUDIT_SENTINEL on every touched row so
    comparisons can substitute the engine's fixed test timestamp.
    """
    state = {k: dict(v) for k, v in (state or {}).items()}
    marker_col = cfg.soft_delete_column
    soft = cfg.delete_mode is DeleteMode.UPDATE
    hard = cfg.delete_mode is DeleteMode.DELETE

    del_keys = list(cfg.delete_as_update_key or cfg.pk_fields)
    pk_index = {k: i for i, k in enumerate(cfg.pk_fields)}

    def matching_keys(ev):
        """State keys the delete's (possibly subset) match key hits —
        UPDATE/DELETE ... WHERE delete_key = ? semantics."""
        want = tuple(ev[k] for k in del_keys)
        idxs = [pk_index[k] for k in del_keys]
        return [
            key for key in list(state)
            if tuple(key[i] for i in idxs) == want
        ]

    for ev in sorted(events, key=lambda e: e[cfg.offset_column]):
        op = ev[cfg.op_column]
        if op == cfg.op_delete_value:
            if hard:
                for key in matching_keys(ev):
                    state.pop(key, None)
                continue
            if not soft:
                continue
            for key in matching_keys(ev):
                row = state[key]
                # guard: OR of three-valued `col != value` disjuncts
                passes = False
                for col, value in cfg.soft_delete_conditions:
                    cur = row.get(col)
                    if value is None:
                        if cfg.guard_null_is_not_null and cur is not None:
                            passes = True
                    elif cur is not None and cur != value:
                        passes = True
                if not passes:
                    continue
                row[marker_col] = cfg.soft_delete_value
                for f in cfg.delete_retain_fields:
                    row[f] = ev.get(f)
                row[cfg.audit_ts_column] = AUDIT_SENTINEL
        else:
            key = tuple(ev[k] for k in cfg.pk_fields)
            if cfg.insert_mode is InsertMode.UPDATE and key not in state:
                continue
            row = {c: ev.get(c) for c in payload_cols}
            if soft:
                row[marker_col] = op.upper()
            row[cfg.audit_ts_column] = AUDIT_SENTINEL
            state[key] = row
    return state
