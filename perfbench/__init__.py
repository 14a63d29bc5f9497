"""The repository's benchmark; ``perfbench/run.py`` is the entry point and
NOTES.md says what it measures and why."""
