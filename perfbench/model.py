"""Pandas model of a keyed table under the mutation_mix operations.

Every write the benchmark sends to the engine is replayed here, and every
read and the final table are compared with this model.  Semantics follow
the engine's documented contract: PUT INTO upserts on the key, UPDATE and
DELETE act on matching keys only, INSERT appends new keys, and a CDC batch
keeps the last event per key (by the order column), applies its deletes,
then upserts the rest.
"""

from __future__ import annotations

import pandas as pd

EVENT_DELETE = 2


class KeyedModel:
    def __init__(self, frame: pd.DataFrame, key: str):
        self.key = key
        self.columns = list(frame.columns)
        self.df = frame.set_index(key, drop=False)

    def _upsert(self, rows: pd.DataFrame) -> None:
        rows = rows[self.columns].set_index(self.key, drop=False)
        rows = rows[~rows.index.duplicated(keep="last")]
        kept = self.df.drop(index=rows.index, errors="ignore")
        self.df = pd.concat([kept, rows]) if len(kept) else rows

    def put(self, rows: pd.DataFrame) -> None:
        self._upsert(rows)

    def insert(self, rows: pd.DataFrame) -> None:
        clash = rows[self.key].isin(self.df.index)
        if clash.any():
            raise ValueError(f"insert of existing keys {rows[self.key][clash].tolist()}")
        self._upsert(rows)

    def update(self, key, assignments: dict) -> None:
        if key in self.df.index:
            for col, value in assignments.items():
                self.df.loc[key, col] = value

    def delete(self, key) -> None:
        self.df = self.df.drop(index=[key], errors="ignore")

    def cdc(self, events: pd.DataFrame, event_col: str, order_col: str) -> None:
        last = events.sort_values(order_col).drop_duplicates(self.key, keep="last")
        dead = last[last[event_col] == EVENT_DELETE][self.key]
        self.df = self.df.drop(index=dead, errors="ignore")
        live = last[last[event_col] != EVENT_DELETE]
        if len(live):
            self._upsert(live)

    def lookup(self, key) -> pd.DataFrame:
        return self.df[self.df.index == key].reset_index(drop=True)

    def frame(self) -> pd.DataFrame:
        return self.df.sort_index().reset_index(drop=True)
