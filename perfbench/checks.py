"""Output checks applied to every benchmark operation, and the result
digest that lets two commits' answers be compared."""

from __future__ import annotations

import hashlib
import math

#: the repo's local-vs-distributed parity tolerance on scores
REL_TOL = 1e-4


class CheckError(AssertionError):
    pass


def need(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckError(msg)


def result_rows(rows) -> list[tuple[int, int, str, int, float]]:
    return [(r["rank"], r["doc_id"], r["conv_id"], r["turn_idx"], r["score"]) for r in rows]


def check_result(res: list[tuple], k: int, mode: str, n_rows: int) -> None:
    """Invariants every top-k answer holds."""
    need(len(res) <= k, f"{len(res)} rows > k={k}")
    need([r[0] for r in res] == list(range(1, len(res) + 1)), "ranks are not 1..n")
    scores = [r[4] for r in res]
    need(all(a >= b for a, b in zip(scores, scores[1:])), "scores increase down the ranking")
    need(all(0 <= r[1] < n_rows for r in res), f"doc_id outside [0, {n_rows})")
    if mode == "conversations":
        convs = [r[2] for r in res]
        need(len(set(convs)) == len(convs), "conversation mode repeats a conv_id")


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def check_same(a: list[tuple], b: list[tuple], what: str) -> None:
    """Two answers to one query agree: same length, scores equal per rank
    within tolerance, and the same doc at every rank whose score is not
    tied with a neighbour (tied docs may legitimately swap)."""
    need(len(a) == len(b), f"{what}: {len(a)} rows vs {len(b)}")
    for i, (x, y) in enumerate(zip(a, b)):
        need(_close(x[4], y[4]), f"{what}: rank {i + 1} score {x[4]} vs {y[4]}")
        tied = (i > 0 and _close(a[i - 1][4], x[4])) or (i + 1 < len(a) and _close(a[i + 1][4], x[4]))
        need(tied or x[1] == y[1], f"{what}: rank {i + 1} doc {x[1]} vs {y[1]}")


def check_marker(res: list[tuple], keys: frozenset, marker: str) -> None:
    got = {(r[2], r[3]) for r in res}
    need(got == set(keys), f"marker {marker}: got {sorted(got)} want {sorted(keys)}")


def check_page(total: int, rows: list[tuple[str, int]], want_total: int, want_rows: list) -> None:
    need(total == want_total, f"page total {total} != {want_total}")
    need(rows == want_rows, "page rows differ from newest-first order")


def digest(answers: list[tuple[str, list[tuple]]]) -> str:
    """sha256 over each query's answer as groups of tied ranks: the
    group's first rank, its doc ids as a sorted set and its score to 3
    significant digits.  Answers that ``check_same`` accepts as equal
    (scores within ``REL_TOL``, tied docs in either order) hash alike,
    except in the rare case where such scores round apart."""
    h = hashlib.sha256()
    for q, res in answers:
        i = 0
        while i < len(res):
            j = i + 1
            while j < len(res) and _close(res[j - 1][4], res[j][4]):
                j += 1
            docs = ",".join(str(d) for d in sorted(r[1] for r in res[i:j]))
            h.update(f"{q}\t{res[i][0]}\t{docs}\t{res[i][4]:.2e}\n".encode())
            i = j
    return h.hexdigest()[:16]
