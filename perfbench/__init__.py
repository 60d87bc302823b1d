"""Checkpointed-extraction benchmark: seeded transcripts tables run through
``session.get_spark`` → ``checkpoint.run_with_checkpoint`` and checked
against the sequential ``dispatch.to_row`` oracle. Entry point: ``run.py``."""
