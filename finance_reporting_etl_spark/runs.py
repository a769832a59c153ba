"""Run isolation for processes that execute catalog queries.

Several queries persist oracle-shared intermediates under the
``oracle_aux`` directory (see ``queries._persist_aux``), and
``bucketed_join_rollup`` writes ``bkt_*`` warehouse tables. Two processes
sharing those paths race on overwrite, and a random query then fails
with "No files found". ``SPARK_GRAFT_RUN_ID`` gives each process its own
``oracle_aux/<run id>`` directory and table-name suffix.

Scripts and test runs call :func:`start_run` before importing
``oracles`` or ``queries`` (both read the run id once, at import). A run
id inherited from the environment belongs to the caller, who may want
its files, so only an id that ``start_run`` made is cleaned up at exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
from urllib.parse import urlparse

RUN_ID_ENV = "SPARK_GRAFT_RUN_ID"
# the checkout (or install prefix) that holds the package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# local paths of the run tables created in this process
_RUN_TABLE_DIRS: set[str] = set()


def aux_dir() -> str:
    """Root of this run's persisted intermediates."""
    root = os.path.join(_ROOT, "spark-warehouse", "oracle_aux")
    run_id = os.environ.get(RUN_ID_ENV)
    return os.path.join(root, run_id) if run_id else root


def run_table(spark, stem: str) -> str:
    """Name of a warehouse table private to this run: ``<stem>_<tag>``,
    where the tag is the run id (``main`` without one). A fixed run id
    overwrites its own tables in place; for an id made by
    :func:`start_run` the table's directory in the session's warehouse
    is removed at exit."""
    tag = (os.environ.get(RUN_ID_ENV) or "main").replace("-", "_")
    name = f"{stem}_{tag}"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if warehouse.scheme in ("", "file"):
        # the catalog stores table directories under lower-cased names
        _RUN_TABLE_DIRS.add(os.path.join(os.path.abspath(warehouse.path), name.lower()))
    return name


def start_run(prefix: str) -> None:
    """Give this process the run id ``<prefix>-<pid>`` unless one is set,
    and remove that run's intermediates and tables at exit."""
    if os.environ.get(RUN_ID_ENV):
        return
    os.environ[RUN_ID_ENV] = f"{prefix}-{os.getpid()}"
    atexit.register(_remove_run_files, aux_dir())


def _remove_run_files(run_aux_dir: str) -> None:
    shutil.rmtree(run_aux_dir, ignore_errors=True)
    for path in _RUN_TABLE_DIRS:
        shutil.rmtree(path, ignore_errors=True)
