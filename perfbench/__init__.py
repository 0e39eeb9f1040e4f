"""GWAS-warehouse benchmark (see README.md)."""
