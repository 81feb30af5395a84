"""Closed-form exactness check shared by every workload."""
from __future__ import annotations

from collections import Counter
from dataclasses import dataclass


@dataclass
class Exactness:
    expected: int            # urls in the input
    exact: int               # urls written once, with the closed-form text
    extra: int               # rows whose url is not in the input
    rows: int                # rows whose status was checked
    ok_rows: int             # of those, rows with status == "ok"
    first_mismatch: str | None

    @property
    def exact_share(self) -> float:
        return self.exact / self.expected if self.expected else 0.0

    @property
    def ok_share(self) -> float:
        return self.ok_rows / self.rows if self.rows else 0.0

    @property
    def failures(self) -> int:
        """Rows not ok, plus input urls missed, plus unknown rows."""
        return (self.rows - self.ok_rows + self.expected - self.exact
                + self.extra)

    @property
    def correct(self) -> bool:
        return self.failures == 0


def check_rows(expected: dict[str, str], urls: list, texts: list,
               statuses: list) -> Exactness:
    """Compare output rows with `expected` (url -> closed-form text).

    A url counts as exact only when it appears exactly once and its text
    equals the closed form, so a missing, duplicated or wrong row is a
    miss. `first_mismatch` names the first input url that missed, or
    else the first output url that is not in the input."""
    seen = Counter(urls)
    by_url = dict(zip(urls, texts))
    exact = 0
    first = None
    for url, want in expected.items():
        if seen.get(url) == 1 and by_url[url] == want:
            exact += 1
        elif first is None:
            first = url
    extra = [u for u in seen if u not in expected]
    if first is None and extra:
        first = extra[0]
    ok = sum(1 for s in statuses if s == "ok")
    return Exactness(len(expected), exact,
                     sum(seen[u] for u in extra), len(statuses), ok, first)


def check_dir(expected: dict[str, str], path: str,
              run_id: str | None = None) -> Exactness:
    """`check_rows` over a parquet directory written by `run_job`. With
    `run_id`, the status check covers only the rows that run wrote,
    while exactness still covers every url of the input."""
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["url", "text", "status", "run_id"])
    runs = t.column("run_id").to_pylist()
    statuses = [s for s, r in zip(t.column("status").to_pylist(), runs)
                if run_id is None or r == run_id]
    return check_rows(expected, t.column("url").to_pylist(),
                      t.column("text").to_pylist(), statuses)
