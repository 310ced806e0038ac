"""K-Means benchmark: see README.md."""
