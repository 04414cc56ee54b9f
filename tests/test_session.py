"""get_session on an already active session."""


def test_get_session_leaves_active_session_confs_unchanged(spark):
    """A job's main() called in-process gets the caller's session as is:
    its runtime SQL confs (the suite sets 4 shuffle partitions) stay."""
    from afspark.session import get_session

    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert get_session(app_name="x") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
