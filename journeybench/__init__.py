"""Journey benchmark (see README.md)."""
