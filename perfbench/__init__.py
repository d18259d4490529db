"""The engine's benchmark (see README.md)."""
