"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each over the driver-provided tables at ``sf_dir`` with a
DuckDB oracle twin in :data:`ORACLE_SQL`.

Each family module declares a query as ``q_<name>(spark, sf_dir)`` under
``@query(oracle=...)``, which registers the function as
``QUERIES[name]`` and its SQL as ``ORACLE_SQL[name]``; importing this
package imports every family, so both dicts are complete.

Engine-parity rules observed throughout:

* every computed column is aliased identically in Spark and SQL;
* float aggregates are rounded (the driver hashes values);
* regex patterns use only ``\\d \\s \\w`` — identical semantics across
  Java regex (Spark) and RE2 (DuckDB);
* dot products fold left-to-right in both engines as doubles → the
  sums are bit-identical.

The ``m_*`` (message-pipeline) queries synthesize the reference's syslog
message grammar deterministically from ``events`` with pure integer
arithmetic, then run the full F1→F7 extract/classify chain — this is the
reference pipeline expressed relationally, oracle-checked end-to-end.
"""

# Import order is registration order, i.e. the order of QUERIES.
from . import (  # noqa: F401  (importing a family registers its queries)
    syslog,
    sources,
    relational,
    text,
    dedup,
    similarity,
    windows,
    streaming,
    sampling,
    sketch,
    urlfilter,
    graph,
)
from .common import ORACLE_SQL, QUERIES  # noqa: F401
