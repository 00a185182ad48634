"""SavedJobStore — named crawl-config CRUD over a SnapshotTable.

Reference parity (VERDICT r2 #7): the reference persists reusable job
configurations in one JSON file it fully rewrites on every mutation
(reference: backend/api/models.py:304-390) — create_job (:341-349),
update_job with saved_job_id/created_at immutable (:351-363), get_all_jobs
most-recent-first (:370-376), case-insensitive trimmed find_by_name
(:375-381 / :378-384), delete_job (:386-392); rename arrives through the
update route. This module re-expresses that store as a **log-structured
dimension table**:

- every mutation appends ONE row version (driver-local parquet commit —
  no Spark job, atomic with the snapshot manifest); the whole
  read-modify-write is serialized by a store-level mutation lock so
  concurrent updates allocate distinct versions (the table's commit
  alone only orders the manifests, not the reads before them);
- current state is a DataFrame view resolving latest-version-per-id and
  dropping tombstones — the J2 "key lookup" shape, composable with any
  join (e.g. resolving a saved config for a scheduled run);
- history is free (snapshot time travel), and ``compact()`` folds the log
  when it grows.

Determinism discipline (same as the rest of the engine): no wall-clock
defaults — ``now_ms`` is an explicit caller parameter; per-id ``version``
is previous+1, so replays reproduce the store byte-for-byte.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import os

from .lake import SnapshotTable, file_lock

SAVED_JOB = StructType(
    [
        StructField("saved_job_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("description", StringType(), True),
        StructField("config_json", StringType(), True),
        StructField("created_at_ms", LongType(), False),
        StructField("updated_at_ms", LongType(), False),
        StructField("version", LongType(), False),
        StructField("deleted", BooleanType(), False),
    ]
)

# reference SavedJob config surface (models.py:259-285), minus auth secrets'
# plaintext caveat — stored opaque inside config_json
_IMMUTABLE = {"saved_job_id", "created_at_ms", "version", "deleted"}
# fields update() may set; "config" (the nested dict) is JSON-encoded here —
# raw "config_json" is rejected so a non-JSON value can never be committed
# (it would poison every later get()/find_by_name() with a decode error)
_MUTABLE = {"name", "description", "config"}


class SavedJobStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = SnapshotTable(path)

    def _mutation_lock(self):
        """Serializes each mutation's read-modify-write: per-id version
        numbers are previous+1, so two concurrent update()s reading the same
        ``_latest`` would both commit the same version and make current()'s
        latest-wins resolution nondeterministic. The table's commit only
        orders the manifests, not the read — this store-level
        lock (a separate file, so the nested commit lock doesn't self-block)
        covers the whole RMW."""
        return file_lock(
            os.path.join(self.table.path, "_joblock"),
            what=f"the mutation lock of {self.table.path}",
        )

    # -- views -------------------------------------------------------------

    def _log(self) -> DataFrame:
        return self.table.read(self.spark, schema=SAVED_JOB)

    def current(self) -> DataFrame:
        """Live configs: latest version per id, tombstones dropped."""
        w = Window.partitionBy("saved_job_id").orderBy(F.col("version").desc())
        return (
            self._log()
            .withColumn("__r", F.row_number().over(w))
            .filter((F.col("__r") == 1) & ~F.col("deleted"))
            .drop("__r")
        )

    def all_jobs(self) -> DataFrame:
        """Most-recent-first listing (models.py:370-376); saved_job_id
        closes the order when updated_at ties (the reference relies on dict
        order there — undefined; ours is total)."""
        return self.current().orderBy(
            F.col("updated_at_ms").desc(), F.col("saved_job_id").asc()
        )

    # -- lookups (J2 key-lookup shape) --------------------------------------

    def get(self, saved_job_id: str) -> dict | None:
        rows = self.current().filter(F.col("saved_job_id") == saved_job_id).collect()
        return self._to_dict(rows[0]) if rows else None

    def find_by_name(self, name: str) -> dict | None:
        """Case-insensitive, whitespace-trimmed name match (models.py:378-384).
        Several live configs may share a name (the reference allows it);
        ties resolve most-recently-updated first, like get_all_jobs."""
        key = name.lower().strip()
        rows = (
            self.current()
            .filter(F.lower(F.trim(F.col("name"))) == key)
            .orderBy(F.col("updated_at_ms").desc(), F.col("saved_job_id").asc())
            .limit(1)
            .collect()
        )
        return self._to_dict(rows[0]) if rows else None

    @staticmethod
    def _to_dict(row) -> dict:
        d = row.asDict()
        d["config"] = json.loads(d.pop("config_json") or "{}")
        d.pop("deleted", None)
        return d

    # -- mutations (each one driver-local append, atomic + lock-serialized) -

    def create(
        self,
        *,
        name: str,
        config: dict | None = None,
        description: str = "",
        saved_job_id: str | None = None,
        now_ms: int = 0,
    ) -> dict:
        """models.py:341-349 — new config under a fresh id."""
        jid = saved_job_id or uuid.uuid4().hex
        row = {
            "saved_job_id": jid,
            "name": name,
            "description": description,
            "config_json": json.dumps(config or {}, sort_keys=True),
            "created_at_ms": now_ms,
            "updated_at_ms": now_ms,
            "version": 1,
            "deleted": False,
        }
        with self._mutation_lock():
            self.table.append_local(
                [row], SAVED_JOB, meta={"job_op": f"create:{jid}"}
            )
        return self._row_dict(row)

    def _latest(self, saved_job_id: str) -> dict | None:
        w = Window.partitionBy("saved_job_id").orderBy(F.col("version").desc())
        rows = (
            self._log()
            .filter(F.col("saved_job_id") == saved_job_id)
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .drop("__r")
            .collect()
        )
        return rows[0].asDict() if rows else None

    def update(
        self, saved_job_id: str, changes: dict, *, now_ms: int = 0
    ) -> dict | None:
        """models.py:351-363 — merge fields; saved_job_id/created_at are
        immutable; returns None for an unknown or deleted id. ``config``
        (the nested dict) replaces wholesale, matching the reference's
        setattr-per-field behavior at its flat level."""
        # validate BEFORE taking the lock or committing anything: a raw
        # config_json (or a typo'd field) must fail loudly here, not land
        # in the log where a non-JSON value poisons every later read
        unknown = set(changes) - _MUTABLE - _IMMUTABLE
        if unknown:
            raise ValueError(
                f"update() accepts {sorted(_MUTABLE)} (immutable fields are "
                f"ignored); got unknown/raw field(s) {sorted(unknown)} — pass "
                f"the nested dict as 'config', never 'config_json'"
            )
        with self._mutation_lock():
            prev = self._latest(saved_job_id)
            if prev is None or prev["deleted"]:
                return None
            row = dict(prev)
            for k, v in changes.items():
                if k in _IMMUTABLE:
                    continue
                if k == "config":
                    row["config_json"] = json.dumps(v or {}, sort_keys=True)
                else:
                    row[k] = v
            row["updated_at_ms"] = now_ms
            row["version"] = prev["version"] + 1
            self.table.append_local(
                [row],
                SAVED_JOB,
                meta={"job_op": f"update:{saved_job_id}:{row['version']}"},
            )
        return self._row_dict(row)

    def rename(
        self, saved_job_id: str, new_name: str, *, now_ms: int = 0
    ) -> dict | None:
        """The reference renames through the update route (routes.py saved-job
        PUT); first-class here."""
        return self.update(saved_job_id, {"name": new_name}, now_ms=now_ms)

    def delete(self, saved_job_id: str, *, now_ms: int = 0) -> bool:
        """models.py:386-392 — tombstone append; False for unknown ids."""
        with self._mutation_lock():
            prev = self._latest(saved_job_id)
            if prev is None or prev["deleted"]:
                return False
            row = dict(prev)
            row["deleted"] = True
            row["updated_at_ms"] = now_ms
            row["version"] = prev["version"] + 1
            self.table.append_local(
                [row], SAVED_JOB, meta={"job_op": f"delete:{saved_job_id}"}
            )
        return True

    # -- maintenance ---------------------------------------------------------

    def compact(self) -> int:
        """Fold the mutation log into one commit of live rows (tombstoned
        ids drop out of the log entirely — like the reference's rewrite,
        but as a snapshot the old history remains time-travelable until
        expire)."""
        return self.table.overwrite(self.current())

    @staticmethod
    def _row_dict(row: dict) -> dict:
        d = dict(row)
        d["config"] = json.loads(d.pop("config_json") or "{}")
        d.pop("deleted", None)
        return d
