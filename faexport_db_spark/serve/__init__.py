"""API surface: every reference web endpoint as a library function.

Flask itself is out of engine scope (SURVEY.md §7.2 step 6); these are
the query-layer functions each route in reference web.py delegates to,
re-expressed as DataFrame plans. A point lookup is one job: an entity
or hash predicate over the pin (a local checkpoint) of a serve view
built once per store. The view itself stays persisted, which keeps it
fresh when Spark writes to a store path and keeps the lineage a rebuild
needs (see ``api``).
"""

from faexport_db_spark.serve.api import (  # noqa: F401
    authenticate_contributor,
    list_archive_contributors,
    list_hash_algos,
    list_submission_ids,
    list_submissions,
    list_user_ids,
    list_users,
    list_websites,
    push_ingest,
    search_hash,
    view_submission,
    view_submission_snapshots,
    view_user,
    view_user_snapshots,
    website,
)
