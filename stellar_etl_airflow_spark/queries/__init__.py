"""Oracle-checked query corpus: relational operators + training-data ops.

``QUERIES`` maps query name -> :class:`QuerySpec`. The driver contract
(``__spark_entry__.py``) derives ``queries()`` and ``oracle_sql()`` from it.
"""

from __future__ import annotations

from .base import QuerySpec

QUERIES: dict[str, QuerySpec] = {}

# All three corpora import unconditionally: a broken import must fail the
# gate loudly, never silently shrink the checked query set.
from . import connectors  # noqa: E402
from . import relational  # noqa: E402
from . import relational2  # noqa: E402
from . import relational3  # noqa: E402
from . import streamingq  # noqa: E402
from . import training  # noqa: E402

QUERIES.update(relational.SPECS)
QUERIES.update(relational2.SPECS)
QUERIES.update(relational3.SPECS)
QUERIES.update(streamingq.SPECS)
QUERIES.update(training.SPECS)
QUERIES.update(connectors.SPECS)
