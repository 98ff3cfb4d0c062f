"""The resumable run: the extraction pipeline over a file stream."""
