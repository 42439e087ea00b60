"""The log, lock and keyed-table tests again, on the Hadoop store.

Each test imported below runs in its own module on the ``os`` store,
which is what a local path gets. Here an autouse fixture makes every
table built during the test take the Hadoop store instead, pointed at
the same tmp dir through Hadoop's raw local FS. So the remote code
paths — Spark append, read, bounds and rewrite, the create-then-verify
lock and overwrite renewal, checked Hadoop renames — pass the same
assertions as the local ones, with one test body per behaviour.
"""

from __future__ import annotations

import pytest

from conftest import on_store
from test_lock import (  # noqa: F401
    test_close_releases_and_context_manager,
    test_crashed_writer_lock_is_reclaimed,
    test_expired_foreign_lease_is_reclaimed_automatically,
    test_fenced_writer_raises_lock_lost_and_leaves_lock_alone,
    test_heartbeat_keeps_idle_writer_alive_through_long_jobs,
    test_inline_fence_when_heartbeat_missed,
    test_legacy_leaseless_foreign_lock_still_requires_steal,
    test_live_writer_renews_lease_at_half_life,
    test_lock_file_is_invisible_to_readers,
    test_reset_by_borrowing_sibling_does_not_hijack_the_delete,
    test_reset_keeps_ownership,
    test_second_live_writer_raises,
    test_sibling_instances_in_one_process_share_the_lock,
    test_steal_override_for_foreign_live_owner,
    test_unexpired_foreign_lease_blocks,
    test_writer_never_expires_while_actively_renewing,
)
from test_log_table import (  # noqa: F401
    log,
    test_append_read_roundtrip,
    test_bounds_and_count_multibucket,
    test_compact_collapses_small_files_preserving_data,
    test_compact_never_writes_oversized_files,
    test_compact_respects_max_records_per_file,
    test_empty_log,
    test_point_read_spark_fallback_matches_native,
    test_read_out_of_range_payload,
    test_reopen_preserves_state,
    test_truncate_crash_recovery,
    test_truncate_exact,
    test_truncate_whole_log_then_append,
    test_two_handles_never_double_assign_offsets,
)
from test_upsert import (  # noqa: F401
    test_merge_is_idempotent,
    test_merge_replaces_and_inserts,
    test_recover_restores_aside_bucket,
)


@pytest.fixture(autouse=True)
def _hadoop_store():
    with on_store("hadoop"):
        yield
