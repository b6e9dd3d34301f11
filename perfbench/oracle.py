"""Independent last-writer-wins answers from DuckDB over the raw events.

The lake keeps, per ``(conv_id, turn_idx)``, the event with the highest
``(lsn, ts)``, and drops the key when that event is a delete. This module
computes the same thing with plain SQL over the binlog tranches, without
importing any engine code, so a lake that disagrees with it is wrong.
"""

from __future__ import annotations

import os

import duckdb

_LWW = """
    select conv_id, turn_idx, text from (
        select conv_id, turn_idx, text, op,
               row_number() over (partition by conv_id, turn_idx
                                  order by lsn desc, ts desc) as rn
        from ev where lsn <= {max_lsn} {where}
    ) where rn = 1 and op <> 'D'
"""


class Oracle:
    def __init__(self, stream_dir: str, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("set threads to 2")
        self.con.execute(f"set temp_directory = '{temp_dir}'")
        pattern = os.path.join(stream_dir, "*.parquet")
        self.con.execute(
            "create table ev as select lsn, op, conv_id, turn_idx, text, ts"
            f" from read_parquet('{pattern}', union_by_name=true)"
        )

    def table_mismatches(self, lake_rows, max_lsn: int) -> int:
        """Rows in the lake (an Arrow table of conv_id, turn_idx, text)
        and not in the answer at ``max_lsn``, plus the reverse."""
        self.con.register("lake", lake_rows)
        try:
            sql = _LWW.format(max_lsn=int(max_lsn), where="")
            return self.con.execute(
                f"""select (select count(*) from (select * from lake except all ({sql})))
                         + (select count(*) from (({sql}) except all select * from lake))"""
            ).fetchone()[0]
        finally:
            self.con.unregister("lake")

    def lookup(self, conv_id: str, max_lsn: int) -> list[tuple]:
        sql = _LWW.format(max_lsn=int(max_lsn), where="and conv_id = ?")
        return sorted(self.con.execute(sql, [conv_id]).fetchall())

    def close(self) -> None:
        self.con.close()
