"""Output checks, run outside the timed regions.

A check returns a list of problems; an empty list means the output is right.
Every problem becomes a failed operation in the result line.
"""

from __future__ import annotations

import hashlib

from tests.oracle_harness import canonical_rows, compare


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive content digest with the oracle harness's canonical
    value forms (columns sorted by name, rows sorted)."""
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for r in canonical_rows(cols, rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


class _Collected:
    """Rows a query already returned, in the shape ``compare`` reads."""

    def __init__(self, cols: list[str], rows: list[tuple]):
        self.columns, self._rows = cols, rows

    def collect(self) -> list[tuple]:
        return self._rows


def against_oracle(cols: list[str], rows: list[tuple], sql: str, sf_dir: str) -> list[str]:
    """``tests/oracle_harness.compare`` on rows the query already returned:
    same column set, same row count, same canonical values."""
    return compare(_Collected(cols, rows), sql, sf_dir)


def serve_response(users: list[int], got: list[tuple], batch: dict[int, list[tuple]],
                   response_k: int) -> list[str]:
    """A serve response must hold, for each requested user, exactly that
    user's rows from one batch call over the same state epoch, and at most
    ``response_k`` of them. Rows are (userid, itemid, score)."""
    mine: dict[int, list[tuple]] = {u: [] for u in users}
    problems = []
    for r in got:
        if r[0] not in mine:
            problems.append(f"row for unrequested user {r[0]}")
            continue
        mine[r[0]].append(tuple(r))
    for u in users:
        want = sorted(batch.get(u, []))
        have = sorted(mine[u])
        if have != want:
            problems.append(f"user {u}: {len(have)} rows differ from batch's {len(want)}")
        elif len(have) > response_k or not have:
            problems.append(f"user {u}: {len(have)} rows (want 1..{response_k})")
    return problems
