"""End-to-end and per-layer benchmark of xboard_spark (see NOTES.md)."""
