"""Registry pin: query names, registry order and oracle SQL text.

The digest covers `name<TAB>oracle_sql<NL>` for every registry entry in
registry order, so renaming, reordering or re-wording any query's oracle
changes it.  Oracles over generated fixtures embed absolute `.cache/`
paths; the repository root is replaced by `<REPO>` before hashing so the
digest holds in any checkout location.  No Spark session is needed.
"""

from __future__ import annotations

import hashlib
import os

from conftest import SF_DIR

from ms_ocr_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__)))
N_QUERIES = 67
PINNED_SHA256 = "83dffb3d33fb7a2f41993643275cd8ea9179b345a5d9c8fd51c2f949b57bb086"


def test_registry_and_oracle_sql_are_pinned(monkeypatch):
    # the keep-first golden's path is tagged with the scale factor it was
    # derived from; pin it to the scale the parity suite uses
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", SF_DIR)
    oracles = Q.oracle_sql()
    names = [name for name, _, _ in Q._REGISTRY]
    assert len(names) == len(set(names)) == N_QUERIES
    assert set(oracles) == set(names)
    blob = "".join(f"{n}\t{oracles[n]}\n" for n in names).replace(REPO, "<REPO>")
    assert hashlib.sha256(blob.encode()).hexdigest() == PINNED_SHA256
