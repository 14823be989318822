"""Single-client benchmark of the horaedb_spark engine; see README.md."""
