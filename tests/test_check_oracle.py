"""``tools/check_oracle.py``'s row digest for queries without an oracle
(no JVM)."""
from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "check_oracle.py")
_spec = importlib.util.spec_from_file_location("check_oracle", _PATH)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

COLS = ["id_b", "id_a", "hamming"]
ROWS = [(2, 1, 3), (9, 4, 0), (7, 5, 1)]


def test_digest_ignores_row_order():
    assert (check_oracle.rows_digest(ROWS, COLS)
            == check_oracle.rows_digest(ROWS[::-1], COLS))


def test_digest_sees_one_changed_value():
    changed = [ROWS[0], (9, 4, 1), ROWS[2]]
    assert (check_oracle.rows_digest(ROWS, COLS)
            != check_oracle.rows_digest(changed, COLS))
